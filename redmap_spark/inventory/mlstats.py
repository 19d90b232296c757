"""SURVEY §2.A additions (round 5, fourth session) — statistical
modeling primitives: per-group OLS regression, a correlation matrix,
running distinct counts, and a Benford first-digit audit (all
oracle-verified).

Cross-engine determinism: OLS and Pearson moments are accumulated as
EXACT decimal sums (n, Σx, Σy, Σxy, Σx², Σy²); the centered forms
n·Σxy − ΣxΣy etc. are still exact decimal, so the only floating-point
steps are the final division / sqrt (IEEE-754 correctly rounded in
both engines) performed in an identical expression shape, then
round(...,6). Benford digits come from the DECIMAL(18,2) string
rendering (identical plain format in both engines), never from
log/pow on doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import erfc_sqrt2
from redmap_spark.inventory.registry import dec, query, spread
from redmap_spark.plans.prefix import two_phase_cumsum, two_phase_row_number

# -- q_regression ------------------------------------------------------
#
# Per-brand OLS of extendedprice on quantity: slope, intercept, r².
# Scale shape: one fact scan joins the broadcast part dim and
# partial-aggregates straight down to the |brands| grid carrying six
# exact-decimal moments; all arithmetic after the shuffle touches
# ~25 rows. (The decimal moment sums cap at DECIMAL(38,4); at corpus
# sizes where n·Σxy would overflow 38 digits production would switch
# the centered products to double — the moments, not the finale, are
# the exact part of the contract.)

REG_SQL = """
WITH m AS (
  SELECT p_brand,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
       round((CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
"""


def _moments(df: DataFrame, key: str, x: str, y: str) -> DataFrame:
    """Exact-decimal OLS/Pearson moment block, grouped by ``key``."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).cast("decimal(18,2)").alias("sx"),
        F.sum(dec(y)).cast("decimal(18,2)").alias("sy"),
        F.sum(dec(x) * dec(y)).cast("decimal(30,4)").alias("sxy"),
        F.sum(dec(x) * dec(x)).cast("decimal(30,4)").alias("sxx"),
        F.sum(dec(y) * dec(y)).cast("decimal(30,4)").alias("syy"),
    )


def _cov_d() -> Column:
    return (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")


def _vx_d() -> Column:
    return (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")


def _vy_d() -> Column:
    return (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")


@query("q_regression", oracle=REG_SQL)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    joined = cat.lineitem.join(
        F.broadcast(cat.part), F.col("l_partkey") == F.col("p_partkey")
    )
    m = _moments(joined, "p_brand", "l_quantity", "l_extendedprice")
    slope_d = _cov_d() / _vx_d()
    # degenerate groups (constant x and/or y → zero variance): DuckDB
    # division by zero yields NULL, Spark doubles yield Inf/NaN — the
    # explicit guards keep both engines at NULL
    vx_ok = _vx_d() != 0
    vv_ok = (_vx_d() * _vy_d()) != 0
    return m.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n"),
        F.when(vx_ok, F.round(slope_d, 6)).alias("slope"),
        F.when(
            vx_ok,
            F.round(
                (F.col("sy").cast("double") - slope_d * F.col("sx").cast("double"))
                / F.col("n"),
                6,
            ),
        ).alias("intercept"),
        F.when(
            vv_ok, F.round((_cov_d() * _cov_d()) / (_vx_d() * _vy_d()), 6)
        ).alias("r2"),
    )


# -- q_corr_matrix -----------------------------------------------------
#
# Pairwise Pearson correlation of (quantity, extendedprice, discount)
# per return flag — the EDA correlation matrix, flattened. One fact
# scan partial-aggregates nine decimal moment sums down to the
# |returnflag| grid; corr = cov / sqrt(vx·vy) with the sqrt on exact
# inputs (IEEE sqrt is correctly rounded in both engines).

CORR_SQL = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
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
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       round(CAST(n * sqp - sq * sp AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                    * CAST(n * spp - sp * sp AS DOUBLE)), 6) AS corr_qty_price,
       round(CAST(n * sqd - sq * sd AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                    * CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS corr_qty_disc,
       round(CAST(n * spd - sp * sd AS DOUBLE)
             / sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                    * CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS corr_price_disc
FROM m
"""


@query("q_corr_matrix", oracle=CORR_SQL)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the 9-term decimal power-sum fold partial-aggregates in
    # the single-task scan stage (r11, guide §2.5; A/B in OPTIMIZATION_r11.md)
    li = spread(
        Catalog(spark, sf_dir).lineitem.select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("decimal(18,2)").alias("sq"),
        F.sum(dec("l_extendedprice")).cast("decimal(18,2)").alias("sp"),
        F.sum(dec("l_discount")).cast("decimal(18,2)").alias("sd"),
        F.sum(dec("l_quantity") * dec("l_quantity"))
        .cast("decimal(30,4)").alias("sqq"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        .cast("decimal(30,4)").alias("spp"),
        F.sum(dec("l_discount") * dec("l_discount"))
        .cast("decimal(30,4)").alias("sdd"),
        F.sum(dec("l_quantity") * dec("l_extendedprice"))
        .cast("decimal(30,4)").alias("sqp"),
        F.sum(dec("l_quantity") * dec("l_discount"))
        .cast("decimal(30,4)").alias("sqd"),
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("decimal(30,4)").alias("spd"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> Column:
        cov = (F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = (F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vy = (F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        # constant-column group: DuckDB's x/0 is NULL, Spark's is
        # NaN/Inf — guard so both engines emit NULL
        return F.when((vx * vy) != 0, F.round(cov / F.sqrt(vx * vy), 6))

    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_disc"),
    )


# -- q_cumulative_distinct ---------------------------------------------
#
# Running distinct-customer count by order day — "total unique users
# to date", the growth-dashboard staple, computed exactly without a
# quadratic distinct-per-prefix: each customer contributes only at
# their FIRST order day (a groupBy-min), the per-day first-timer
# counts collapse to the day grid, and one running-sum window over
# that grid yields the cumulative series. All integers.

CUMD_SQL = """
WITH first_day AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS day
  FROM orders GROUP BY 1
), per_day AS (
  SELECT day, COUNT(*) AS new_customers FROM first_day GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(new_customers AS BIGINT) AS new_customers,
       CAST(SUM(new_customers) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_customers
FROM per_day
"""


@query("q_cumulative_distinct", oracle=CUMD_SQL)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    first_day = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_customers")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_customers").cast("bigint").alias("new_customers"),
        F.sum("new_customers").over(w).cast("bigint").alias("cum_customers"),
    )


# -- q_benford ---------------------------------------------------------
#
# Benford first-digit audit over order totals — the classic fraud /
# data-quality screen. The leading digit comes from the DECIMAL(18,2)
# string rendering (plain format in both engines; no double log/pow
# anywhere near the digit), expected shares are 6-dp literals of
# log10(1+1/d), and the total is a 1-row broadcast join. Output is
# the 9-row digit table.

_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_CASE = "CAST(CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD.items()
) + " END AS DOUBLE)"

BENFORD_SQL = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders
), g AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / CAST((SELECT SUM(n) FROM g) AS DOUBLE), 6) AS share,
       {_BENFORD_CASE} AS benford_expected,
       round(round(n / CAST((SELECT SUM(n) FROM g) AS DOUBLE), 6)
             - {_BENFORD_CASE}, 6) AS delta
FROM g
"""


@query("q_benford", oracle=BENFORD_SQL)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    g = o.select(
        F.substring(dec("o_totalprice").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = g.agg(F.sum("n").cast("double").alias("tot"))
    expected = F.expr(_BENFORD_CASE)
    share = F.round(F.col("n") / F.col("tot"), 6)
    return g.join(F.broadcast(total)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        share.alias("share"),
        expected.alias("benford_expected"),
        F.round(share - expected, 6).alias("delta"),
    )


# -- q_gini ------------------------------------------------------------
#
# Gini coefficient of customer revenue concentration (the Lorenz-curve
# summary behind q_decile_lift's table): G = 2·Σ(i·x_i)/(n·Σx) −
# (n+1)/n over revenue-sorted customers. Scale shape: the fact table
# partial-aggregates to the |customers| grid; the rank window sorts
# that grid (documented grid-sized global sort, as q_decile_lift);
# Σ(i·x_i) is exact decimal (rank × DECIMAL(19,2)), so only the final
# division is floating-point. Ties rank deterministically by custkey.

GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS r
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i FROM rev
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(r) AS DECIMAL(19,2)) AS sr,
         CAST(SUM(i * r) AS DECIMAL(38,2)) AS sir
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sr AS DOUBLE) AS total_revenue,
       round(2.0 * CAST(sir AS DOUBLE) / (n * CAST(sr AS DOUBLE))
             - (n + 1.0) / n, 6) AS gini
FROM m
"""


@query("q_gini", oracle=GINI_SQL)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    rev = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("decimal(19,2)").alias("r")
    )
    # |customers| scales with the data (15k rows crossed the old
    # global-rank singleton at sf0.1), so the Lorenz rank is a
    # TWO-PHASE global row_number over floor(r/4096) buckets
    # (domain-bounded per-customer revenue, plans/prefix.py).
    ranked = two_phase_row_number(
        rev, ["r", "o_custkey"],
        F.floor(F.col("r") / 4096).cast("bigint"), out="i",
    ).select("r", "i")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").cast("decimal(19,2)").alias("sr"),
        F.sum(F.col("i") * F.col("r")).cast("decimal(38,2)").alias("sir"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sr").cast("double").alias("total_revenue"),
        F.round(
            2.0 * F.col("sir").cast("double")
            / (F.col("n") * F.col("sr").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# -- q_autocorrelation -------------------------------------------------
#
# Lag-k autocorrelation (ACF at k=1 and k=7) of the per-series daily
# revenue — the stationarity/seasonality diagnostic a forecaster
# checks before q_forecast_linear. Pearson correlation between the
# series and its k-lagged self over the overlapping pairs, from exact
# decimal moment sums (mlstats pattern); zero-variance windows guard
# to NULL on both engines.

_ACF_PAIR = """
  SELECT event_type, rev AS y,
         LAG(rev, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x
  FROM daily
"""

_ACF_CORR = """
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
         CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
         CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
         CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
         CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
  FROM pairs{k} WHERE x IS NOT NULL GROUP BY 1
"""

ACF_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events GROUP BY 1, 2
), pairs1 AS ({p1}), pairs7 AS ({p7}),
m1 AS ({c1}), m7 AS ({c7})
SELECT m1.event_type,
       CAST(m1.n AS BIGINT) AS n_lag1,
       CASE WHEN (m1.n * m1.sxx - m1.sx * m1.sx)
                 * (m1.n * m1.syy - m1.sy * m1.sy) <> 0 THEN
         round(CAST(m1.n * m1.sxy - m1.sx * m1.sy AS DOUBLE)
               / sqrt(CAST(m1.n * m1.sxx - m1.sx * m1.sx AS DOUBLE)
                      * CAST(m1.n * m1.syy - m1.sy * m1.sy AS DOUBLE)), 6)
       END AS acf_1,
       CAST(m7.n AS BIGINT) AS n_lag7,
       CASE WHEN (m7.n * m7.sxx - m7.sx * m7.sx)
                 * (m7.n * m7.syy - m7.sy * m7.sy) <> 0 THEN
         round(CAST(m7.n * m7.sxy - m7.sx * m7.sy AS DOUBLE)
               / sqrt(CAST(m7.n * m7.sxx - m7.sx * m7.sx AS DOUBLE)
                      * CAST(m7.n * m7.syy - m7.sy * m7.sy AS DOUBLE)), 6)
       END AS acf_7
FROM m1 JOIN m7 ON m1.event_type = m7.event_type
""".format(
    p1=_ACF_PAIR.format(k=1), p7=_ACF_PAIR.format(k=7),
    c1=_ACF_CORR.format(k=1), c7=_ACF_CORR.format(k=7),
)


@query("q_autocorrelation", oracle=ACF_SQL)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("day")

    def acf(k: int, n_name: str, c_name: str) -> DataFrame:
        pairs = daily.select(
            "event_type",
            F.col("rev").alias("y"),
            F.lag("rev", k).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        m = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("decimal(19,2)").alias("sx"),
            F.sum("y").cast("decimal(19,2)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(30,4)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(30,4)").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(30,4)").alias("syy"),
        )
        cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        return m.select(
            "event_type",
            F.col("n").cast("bigint").alias(n_name),
            F.when((vx * vy) != 0, F.round(cov / F.sqrt(vx * vy), 6)).alias(
                c_name
            ),
        )

    return acf(1, "n_lag1", "acf_1").join(acf(7, "n_lag7", "acf_7"), "event_type")


# -- q_survival_km -----------------------------------------------------
#
# Kaplan-Meier survival curve for time-to-second-order (repeat
# purchase), right-censored at the dataset horizon — THE
# survival-analysis estimator (churn/retention modeling beyond the
# cohort matrix: censoring-aware, unlike q_retention_cohorts'
# complete-data grid). Observation: per customer, days from first to
# second order (event) or to the global max order date (censored).
# Scale shape: one per-customer window+groupBy on the natural
# o_custkey shuffle key collapses the fact stream to |customers|
# observations, then to the |distinct t| grid; the documented global
# windows run over that bounded grid only (≤ dataset-day-span rows).
# Determinism: at-risk/event counts are exact integers; the product
# Π(1 − d/n) is computed as exp(Σ ln((n−d)/n)) with each ln term cast
# to DECIMAL(18,9) (exact, order-independent fold) and ONE final
# exp() on an identical double; a running any-(n=d) flag pins
# survival to exactly 0.0 past a collapse point on both engines.

KM_SQL = """
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
  SELECT CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
              ELSE date_diff('day', d1, de) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs CROSS JOIN endd
), n_tot AS (SELECT COUNT(*) AS nt FROM obs),
grid AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS c FROM obs GROUP BY 1
), r AS (
  SELECT t, d,
         nt - COALESCE(CAST(SUM(c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS n
  FROM grid CROSS JOIN n_tot
), s AS (
  SELECT t, d, n,
         MAX(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER (ORDER BY t) AS dead,
         CAST(SUM(CASE WHEN d < n THEN
                CAST(ln((n - d) / CAST(n AS DOUBLE)) AS DECIMAL(18,9))
              END) OVER (ORDER BY t) AS DOUBLE) AS lsum
  FROM r
)
SELECT CAST(t AS BIGINT) AS t_days, CAST(n AS BIGINT) AS n_at_risk,
       d AS n_events,
       CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM s WHERE d > 0
"""


@query("q_survival_km", oracle=KM_SQL)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders.select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    wc = Window.partitionBy("o_custkey")
    obs0 = o.withColumn("d1", F.min("od").over(wc))
    fs = obs0.groupBy("o_custkey", "d1").agg(
        F.min(F.when(F.col("od") > F.col("d1"), F.col("od"))).alias("d2")
    )
    endd = o.agg(F.max("od").alias("de"))
    obs = fs.join(F.broadcast(endd)).select(
        F.when(F.col("d2").isNotNull(), F.datediff("d2", "d1"))
        .otherwise(F.datediff("de", "d1"))
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    ntot = obs.agg(F.count(F.lit(1)).alias("nt"))
    grid = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"), F.count(F.lit(1)).alias("c")
    )
    # the windows below run over the collapsed |distinct t| grid
    # (bounded by the dataset day span), never per-customer rows
    prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    upto = Window.orderBy("t")
    r = grid.join(F.broadcast(ntot)).withColumn(
        "n", F.col("nt") - F.coalesce(F.sum("c").over(prev), F.lit(0))
    )
    s = r.select(
        "t", "d", "n",
        F.max(F.when(F.col("d") >= F.col("n"), 1).otherwise(0))
        .over(upto)
        .alias("dead"),
        F.sum(
            F.when(
                F.col("d") < F.col("n"),
                F.log(
                    (F.col("n") - F.col("d")) / F.col("n").cast("double")
                ).cast("decimal(18,9)"),
            )
        )
        .over(upto)
        .cast("double")
        .alias("lsum"),
    )
    return s.filter(F.col("d") > 0).select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lsum"), 6))
        .alias("survival"),
    )


# -- q_hhi -------------------------------------------------------------
#
# Herfindahl-Hirschman concentration index of revenue across each
# nation's customers — the market-concentration diagnostic behind the
# decile/Gini reports (HHI = Σ share², 1/n for perfectly even, →1 for
# monopolized). Scale shape: the fact stream partial-aggregates to
# the per-customer grid (one shuffle on the join key), nation totals
# collapse from that grid, and the nation dim broadcasts.
# Determinism: HHI = Σrev² / total², with Σrev² an EXACT
# DECIMAL(38,4) fold (operands widened to DECIMAL(19,2) so both
# engines multiply in int128); the only FP steps are the final
# identical divisions.

HHI_SQL = """
WITH cr AS (
  SELECT c_nationkey, c_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), agg AS (
  SELECT c_nationkey,
         COUNT(*) AS nc,
         CAST(SUM(rev) AS DECIMAL(19,2)) AS trev,
         CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS ssq,
         CAST(MAX(rev) AS DECIMAL(19,2)) AS maxrev
  FROM cr GROUP BY 1
)
SELECT n_name, CAST(nc AS BIGINT) AS n_customers,
       round(CAST(ssq AS DOUBLE)
             / (CAST(trev AS DOUBLE) * CAST(trev AS DOUBLE)), 6) AS hhi,
       round(CAST(maxrev AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS top_share
FROM agg JOIN nation ON c_nationkey = n_nationkey
"""


@query("q_hhi", oracle=HHI_SQL)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    orders = c.orders
    cr = (
        orders.join(
            c.customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.sum(dec("o_totalprice")).cast("decimal(19,2)").alias("rev")
        )
    )
    agg = cr.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum("rev").cast("decimal(19,2)").alias("trev"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,4)"))
        .cast("decimal(38,4)")
        .alias("ssq"),
        F.max("rev").cast("decimal(19,2)").alias("maxrev"),
    )
    n = c.nation.select("n_nationkey", "n_name")
    return (
        agg.join(F.broadcast(n), agg.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.col("nc").cast("bigint").alias("n_customers"),
            F.round(
                F.col("ssq").cast("double")
                / (F.col("trev").cast("double") * F.col("trev").cast("double")),
                6,
            ).alias("hhi"),
            F.round(
                F.col("maxrev").cast("double") / F.col("trev").cast("double"), 6
            ).alias("top_share"),
        )
    )


# -- q_price_index -----------------------------------------------------
#
# Laspeyres price index per month (base-quantity-weighted price level
# relative to the first month — the classic inflation/price-tracking
# aggregate): index_m = Σ_i p_im·q_ib / Σ_i p_ib·q_ib over parts
# traded in both the base and current month. Scale shape: one fact
# scan partial-aggregates to the (part, month) grid with exact
# decimal Σprice/Σqty; the base-month slice joins back on the part
# key (grid-sized), and the 1-row base-month marker broadcasts.
# Determinism: the per-part unit price requires a division, so each
# term (p_im·q_ib) is an identically-computed double CAST to
# DECIMAL(18,6) before the fold — exact, order-independent sums (the
# txt_word_entropy / JS-divergence convention) — and the final index
# is one rounded division.

PRICE_IDX_SQL = """
WITH pm AS (
  SELECT l_partkey AS pk, strftime(l_shipdate, '%Y-%m') AS m,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS e,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS q
  FROM lineitem GROUP BY 1, 2
), m0 AS (SELECT MIN(m) AS bm FROM pm),
base AS (
  SELECT pk, e AS eb, q AS qb FROM pm CROSS JOIN m0 WHERE m = bm
), terms AS (
  SELECT pm.m, 
         CAST((CAST(pm.e AS DOUBLE) / CAST(pm.q AS DOUBLE))
              * CAST(base.qb AS DOUBLE) AS DECIMAL(18,6)) AS cur,
         CAST((CAST(base.eb AS DOUBLE) / CAST(base.qb AS DOUBLE))
              * CAST(base.qb AS DOUBLE) AS DECIMAL(18,6)) AS bas
  FROM pm JOIN base ON pm.pk = base.pk
)
SELECT m AS month, CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(CAST(SUM(cur) AS DOUBLE) / CAST(SUM(bas) AS DOUBLE), 6)
         AS laspeyres_idx
FROM terms GROUP BY 1
"""


@query("q_price_index", oracle=PRICE_IDX_SQL)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    pm = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_format("l_shipdate", "yyyy-MM").alias("m"),
    ).agg(
        F.sum(dec("l_extendedprice")).cast("decimal(19,2)").alias("e"),
        F.sum(dec("l_quantity")).cast("decimal(19,2)").alias("q"),
    )
    # Single fact pass (r11): pm used to feed THREE branches (base-month
    # marker, base slice, current slice), each re-running the lineitem
    # scan + (pk, m) aggregation. The base month is global, so
    # min(month) comes straight off the scan (yyyy-MM is lexicographic-
    # chronological, so min(date_format(d)) = date_format(min(d))), and
    # the per-part base row is pinned onto each grid row by a
    # max(when(m = bm, ·)) window over pk — the grid has at most one
    # bm row per part, so the window reproduces the base join exactly,
    # and filtering qb IS NOT NULL reproduces its inner-join semantics.
    # 3 lineitem scans -> 1; the window runs on the bounded grid.
    m0 = li.agg(F.min(F.date_format("l_shipdate", "yyyy-MM")).alias("bm"))
    w = Window.partitionBy("pk")
    wb = (
        pm.join(F.broadcast(m0))
        .select(
            "m", "e", "q",
            F.max(F.when(F.col("m") == F.col("bm"), F.col("e")))
            .over(w).alias("eb"),
            F.max(F.when(F.col("m") == F.col("bm"), F.col("q")))
            .over(w).alias("qb"),
        )
        .filter(F.col("qb").isNotNull())
    )
    cur = (
        (F.col("e").cast("double") / F.col("q").cast("double"))
        * F.col("qb").cast("double")
    ).cast("decimal(18,6)")
    bas = (
        (F.col("eb").cast("double") / F.col("qb").cast("double"))
        * F.col("qb").cast("double")
    ).cast("decimal(18,6)")
    return (
        wb.select("m", cur.alias("cur"), bas.alias("bas"))
        .groupBy(F.col("m").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum("cur").cast("double") / F.sum("bas").cast("double"), 6
            ).alias("laspeyres_idx"),
        )
    )


# -- q_ks_test ---------------------------------------------------------
#
# Two-sample Kolmogorov–Smirnov test per event type: weekday vs
# weekend value distributions. D = max over distinct values of
# |F_wd(x) − F_we(x)|; the CDFs are cumulative EXACT integer counts
# divided once each (deterministic doubles), and MAX is
# order-independent, so no FP-accumulation drift is possible. The
# 95% rejection flag uses the asymptotic critical value
# c(α)·sqrt((n1+n2)/(n1·n2)), c(0.05) = 1.358. Shape: the stream
# collapses to the distinct (type, value) grid; one window sort per
# type computes both CDFs.

KS_SQL = """
WITH s AS (
  SELECT event_type, value,
         CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS wk
  FROM events
),
g AS (
  SELECT event_type, value,
         CAST(COUNT(*) - SUM(wk) AS BIGINT) AS c1r,
         CAST(SUM(wk) AS BIGINT) AS c2r
  FROM s GROUP BY 1, 2
),
c AS (
  SELECT event_type,
         SUM(c1r) OVER (PARTITION BY event_type ORDER BY value) AS c1,
         SUM(c2r) OVER (PARTITION BY event_type ORDER BY value) AS c2,
         SUM(c1r) OVER (PARTITION BY event_type) AS n1,
         SUM(c2r) OVER (PARTITION BY event_type) AS n2
  FROM g
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_weekday,
       CAST(MAX(n2) AS BIGINT) AS n_weekend,
       round(MAX(abs(c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))), 6)
         AS ks_d,
       CAST(CASE WHEN MAX(abs(c1 / CAST(n1 AS DOUBLE)
                              - c2 / CAST(n2 AS DOUBLE)))
                      > 1.358 * sqrt((MAX(n1) + MAX(n2))
                                     / (CAST(MAX(n1) AS DOUBLE) * MAX(n2)))
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
FROM c GROUP BY 1
"""


@query("q_ks_test", oracle=KS_SQL)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    # Spark dayofweek is 1=Sunday; ISO weekend (Sat/Sun) = {1, 7}
    wk = F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0)
    g = (
        e.select("event_type", "value", wk.alias("wk"))
        .groupBy("event_type", "value")
        .agg(
            (F.count(F.lit(1)) - F.sum("wk")).cast("bigint").alias("c1r"),
            F.sum("wk").cast("bigint").alias("c2r"),
        )
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("value")
    c = g.select(
        "event_type",
        F.sum("c1r").over(wo).alias("c1"),
        F.sum("c2r").over(wo).alias("c2"),
        F.sum("c1r").over(wp).alias("n1"),
        F.sum("c2r").over(wp).alias("n2"),
    )
    diff = F.abs(
        F.col("c1") / F.col("n1").cast("double")
        - F.col("c2") / F.col("n2").cast("double")
    )
    crit = 1.358 * F.sqrt(
        (F.max("n1") + F.max("n2"))
        / (F.max("n1").cast("double") * F.max("n2"))
    )
    return c.groupBy("event_type").agg(
        F.max("n1").cast("bigint").alias("n_weekday"),
        F.max("n2").cast("bigint").alias("n_weekend"),
        F.round(F.max(diff), 6).alias("ks_d"),
        F.when(F.max(diff) > crit, 1).otherwise(0).cast("bigint")
        .alias("reject_95"),
    )


# -- q_chi2_independence -----------------------------------------------
#
# Chi-squared independence test: event_type × ISO day-of-week. Each
# cell contribution is (o·n − rt·ct)² / (n·rt·ct) with the square in
# exact DECIMAL(38,0) (BIGINT would overflow past ~3e9-row scales)
# and the denominator an exact BIGINT, so every per-cell term is ONE
# deterministic double division. The χ² total is the sum of the
# per-cell terms rounded to 6 decimals and summed as exact
# DECIMAL(18,6) — order-independent by construction (a raw double SUM
# would drift with partition order; the ≤ncells·5e-7 rounding bias is
# part of the statistic's definition here). Effect size reported as
# Cramér's V. Shape: one scan to the |types × 7| grid; everything
# after is grid-sized.

CHI2_SQL = """
WITH obs AS (
  SELECT event_type, isodow(ts) AS dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, dow, o,
         CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
         CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM obs
),
cells AS (
  SELECT event_type, dow, o, rt, ct, n,
         CAST(round(
           CAST(CAST(o * n - rt * ct AS DECIMAL(19,0))
                * CAST(o * n - rt * ct AS DECIMAL(19,0)) AS DOUBLE)
           / CAST(n * rt * ct AS DOUBLE), 6) AS DECIMAL(18,6)) AS contrib
  FROM tot
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_dows,
       CAST((COUNT(DISTINCT event_type) - 1)
            * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
       CAST(SUM(contrib) AS DOUBLE) AS chi2,
       round(sqrt(CAST(SUM(contrib) AS DOUBLE)
                  / (MAX(n) * least(COUNT(DISTINCT event_type) - 1,
                                    COUNT(DISTINCT dow) - 1))), 6)
         AS cramers_v
FROM cells
"""


@query("q_chi2_independence", oracle=CHI2_SQL)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek("ts") == 1, F.lit(7)).otherwise(
        F.dayofweek("ts") - 1
    )
    obs = e.groupBy(
        "event_type", iso.alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = obs.select(
        "event_type", "dow", "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint")
        .alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("ct"),
        F.sum("o").over(
            Window.partitionBy()
        ).cast("bigint").alias("n"),
    )
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast(
        "decimal(19,0)"
    )
    contrib = F.round(
        (num * num).cast("double")
        / (F.col("n") * F.col("rt") * F.col("ct")).cast("double"),
        6,
    ).cast("decimal(18,6)")
    cells = tot.withColumn("contrib", contrib)
    chi2 = F.sum("contrib").cast("double")
    r = F.countDistinct("event_type")
    c = F.countDistinct("dow")
    return cells.groupBy().agg(
        F.max("n").cast("bigint").alias("n"),
        r.cast("bigint").alias("n_types"),
        c.cast("bigint").alias("n_dows"),
        ((r - 1) * (c - 1)).cast("bigint").alias("dof"),
        chi2.alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.max("n") * F.least(r - 1, c - 1))), 6
        ).alias("cramers_v"),
    )


# -- q_psi_drift -------------------------------------------------------
#
# Population Stability Index per event type: the value distribution of
# the first half of January vs the second (the train-vs-serve drift
# check every ML feature pipeline runs). 10 fixed-width bins
# (width 10, top bin open-ended) with +1 Laplace smoothing so empty
# bins stay defined; PSI = Σ (p − q)·ln(p/q) with per-bin terms
# rounded to 6 and summed as exact DECIMAL(18,6) (order-independent,
# same construction as q_chi2_independence). Shape: one scan to the
# |types × 2 × 10| grid.

PSI_SQL = """
WITH s AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS half,
         least(9, CAST(floor(value / 10) AS BIGINT)) AS bin
  FROM events
),
b AS (
  SELECT event_type, half, bin, COUNT(*) AS c
  FROM s GROUP BY 1, 2, 3
),
grid AS (
  SELECT t.event_type, h.half, g.bin,
         COALESCE(b.c, 0) + 1 AS c
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(0, 2)) AS half) h
  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
  LEFT JOIN b ON b.event_type = t.event_type
             AND b.half = h.half AND b.bin = g.bin
),
tots AS (
  SELECT event_type, half, bin, c,
         CAST(SUM(c) OVER (PARTITION BY event_type, half) AS BIGINT) AS tot
  FROM grid
),
pq AS (
  SELECT a.event_type, a.bin,
         a.c / CAST(a.tot AS DOUBLE) AS p,
         d.c / CAST(d.tot AS DOUBLE) AS q
  FROM tots a JOIN tots d
    ON a.event_type = d.event_type AND a.bin = d.bin
   AND a.half = 0 AND d.half = 1
),
terms AS (
  SELECT event_type,
         CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)) AS term
  FROM pq
)
SELECT event_type, CAST(SUM(term) AS DOUBLE) AS psi,
       CAST(CASE WHEN CAST(SUM(term) AS DOUBLE) > 0.2 THEN 1 ELSE 0 END
            AS BIGINT) AS drifted
FROM terms GROUP BY 1
"""


@query("q_psi_drift", oracle=PSI_SQL)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    s = e.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(F.lit(9), F.floor(F.col("value") / 10).cast("bigint"))
        .alias("bin"),
    )
    b = s.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    t = e.select("event_type").distinct()
    halves = spark.range(2).select(F.col("id").cast("int").alias("half"))
    bins = spark.range(10).select(F.col("id").cast("bigint").alias("bin"))
    grid = (
        t.crossJoin(F.broadcast(halves))
        .crossJoin(F.broadcast(bins))
        .join(b, ["event_type", "half", "bin"], "left")
        .select(
            "event_type", "half", "bin",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("c"),
        )
    )
    tots = grid.select(
        "event_type", "half", "bin", "c",
        F.sum("c").over(Window.partitionBy("event_type", "half"))
        .cast("bigint").alias("tot"),
    )
    a, d = tots.alias("a"), tots.alias("d")
    pq = a.filter(F.col("a.half") == 0).join(
        d.filter(F.col("d.half") == 1),
        (F.col("a.event_type") == F.col("d.event_type"))
        & (F.col("a.bin") == F.col("d.bin")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.c") / F.col("a.tot").cast("double")).alias("p"),
        (F.col("d.c") / F.col("d.tot").cast("double")).alias("q"),
    )
    term = F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
    ).cast("decimal(18,6)")
    psi = F.sum(term).cast("double")
    return pq.groupBy("event_type").agg(
        psi.alias("psi"),
        F.when(psi > 0.2, 1).otherwise(0).cast("bigint").alias("drifted"),
    )


# -- q_wasserstein_drift -----------------------------------------------
#
# 1-D Wasserstein-1 (earth-mover) distance per event type between the
# first and second half-month value distributions — the integral
# drift metric that complements q_psi_drift (binned, density-ratio)
# and q_ks_test (sup-norm): W₁ = ∫ |F₁(x) − F₂(x)| dx, evaluated
# exactly as Σ |F₁(vᵢ) − F₂(vᵢ)| · (vᵢ₊₁ − vᵢ) over the merged
# support. CDFs are exact-integer cumulative counts divided once;
# per-gap terms are rounded to DECIMAL(18,9) and summed exactly
# (order-independent). Shape: the stream collapses to the distinct
# (type, value, half) grid; one window sort per type does the rest.

W1_SQL = """
WITH s AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS half
  FROM events
),
g AS (
  SELECT event_type, value,
         CAST(SUM(1 - half) AS BIGINT) AS c1r,
         CAST(SUM(half) AS BIGINT) AS c2r
  FROM s GROUP BY 1, 2
),
c AS (
  SELECT event_type, value,
         SUM(c1r) OVER w AS c1,
         SUM(c2r) OVER w AS c2,
         SUM(c1r) OVER p AS n1,
         SUM(c2r) OVER p AS n2,
         LEAD(value) OVER (PARTITION BY event_type ORDER BY value) AS nxt
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY value),
         p AS (PARTITION BY event_type)
),
terms AS (
  SELECT event_type, n1, n2,
         CAST(round(abs(c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))
                    * (nxt - value), 9) AS DECIMAL(18,9)) AS term
  FROM c WHERE nxt IS NOT NULL
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_first,
       CAST(MAX(n2) AS BIGINT) AS n_second,
       round(CAST(SUM(term) AS DOUBLE), 6) AS w1_distance
FROM terms GROUP BY 1
"""


@query("q_wasserstein_drift", oracle=W1_SQL)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    s = e.select(
        "event_type", "value",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0)
        .otherwise(1)
        .alias("half"),
    )
    g = s.groupBy("event_type", "value").agg(
        F.sum(1 - F.col("half")).cast("bigint").alias("c1r"),
        F.sum("half").cast("bigint").alias("c2r"),
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("value")
    c = g.select(
        "event_type", "value",
        F.sum("c1r").over(wo).alias("c1"),
        F.sum("c2r").over(wo).alias("c2"),
        F.sum("c1r").over(wp).alias("n1"),
        F.sum("c2r").over(wp).alias("n2"),
        F.lead("value").over(wo).alias("nxt"),
    )
    term = F.round(
        F.abs(
            F.col("c1") / F.col("n1").cast("double")
            - F.col("c2") / F.col("n2").cast("double")
        )
        * (F.col("nxt") - F.col("value")),
        9,
    ).cast("decimal(18,9)")
    return (
        c.filter(F.col("nxt").isNotNull())
        .select("event_type", "n1", "n2", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.max("n1").cast("bigint").alias("n_first"),
            F.max("n2").cast("bigint").alias("n_second"),
            F.round(F.sum("term").cast("double"), 6).alias("w1_distance"),
        )
    )


# -- q_mannwhitney -----------------------------------------------------
#
# Mann–Whitney U rank-sum test, each event type's value distribution
# vs the pooled rest (the nonparametric two-sample location test —
# the robust sibling of the z/t tests in q_ab_test). Because every
# one-vs-rest comparison pools ALL values, the midrank grid is
# computed ONCE over distinct values (groupBy value → tie count, one
# grid-sized cumulative window — never a row-level global sort, the
# q_gini documented-grid-sort shape), then joined back to per-(type,
# value) counts. All rank algebra is exact integer: 2·avgrank =
# 2·cum − cnt + 1, so 2·R1 and 2·U1 are exact BIGINTs; the only
# floating-point steps are the variance (with the standard tie
# correction T = Σ(t³−t)) and the final z / rank-biserial divisions,
# identical expression shapes in both engines, then round(...,6).

MANNWHITNEY_SQL = """
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
), per AS (
  SELECT t.event_type,
         CAST(SUM(t.ct) AS BIGINT) AS n1,
         CAST(SUM(t.ct * (2 * r.cum - r.cnt + 1)) AS BIGINT) AS r2x
  FROM tg t JOIN rg r ON r.value = t.value
  GROUP BY 1
)
SELECT event_type,
       n1,
       CAST(n - n1 AS BIGINT) AS n2,
       (r2x - n1 * (n1 + 1)) / 2.0 AS u1,
       CASE WHEN n1 > 0 AND n - n1 > 0
                 AND (n + 1.0) - ties / (n * (n - 1.0)) > 0
            THEN round(
              (r2x - n1 * (n1 + 1) - n1 * (n - n1))
              / (2.0 * sqrt(n1 * (n - n1)
                            * ((n + 1.0) - ties / (n * (n - 1.0)))
                            / 12.0)), 6)
            ELSE 0.0 END AS z_mw,
       round(1.0 - (r2x - n1 * (n1 + 1))
                   / (CAST(n1 AS DOUBLE) * (n - n1)), 6) AS r_rb
FROM per CROSS JOIN gstat
ORDER BY event_type
"""


@query("q_mannwhitney", oracle=MANNWHITNEY_SQL)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    vals = e.filter(F.col("value").isNotNull()).select("event_type", "value")
    g = vals.groupBy("value").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # distinct values scale with the data: the rank-base cumulative is
    # a two-phase prefix sum over floor(value/8) buckets (event value
    # domain 0..~500 -> ~62 buckets, SF-independent) — no
    # SinglePartition pass over the grid (plans/prefix.py).
    rg = two_phase_cumsum(
        g, ["value"], F.col("cnt"),
        F.floor(F.col("value") / 8).cast("bigint"), out="cum",
    )
    glob = g.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint").alias("ties"),
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
            ).cast("bigint").alias("r2x"),
        )
    )
    j = per.join(F.broadcast(glob))
    n, n1, r2x, ties = (F.col(c) for c in ("n", "n1", "r2x", "ties"))
    n2 = n - n1
    u2x = r2x - n1 * (n1 + 1)
    tie_factor = (n + F.lit(1.0)) - ties / (n * (n - F.lit(1.0)))
    z = (u2x - n1 * n2) / (
        2.0 * F.sqrt(n1 * n2 * tie_factor / F.lit(12.0))
    )
    return j.select(
        "event_type",
        n1.alias("n1"),
        n2.cast("bigint").alias("n2"),
        (u2x / F.lit(2.0)).alias("u1"),
        F.when(
            (n1 > 0) & (n2 > 0) & (tie_factor > 0), F.round(z, 6)
        ).otherwise(F.lit(0.0)).alias("z_mw"),
        F.round(
            F.lit(1.0) - u2x / (n1.cast("double") * n2), 6
        ).alias("r_rb"),
    ).orderBy("event_type")


# -- q_bh_fdr ----------------------------------------------------------
#
# Benjamini–Hochberg false-discovery-rate control over a family of
# per-nation hypothesis tests (the multiple-testing companion of
# q_ab_test: 25 simultaneous "is this nation's mean account balance
# off the global mean?" z-tests would inflate false positives at
# α=0.05 without correction). Moments are exact decimal sums
# (acctbal and acctbal² as DECIMAL(18,2)/DECIMAL(37,4)); z is the
# one-sample z against the global population std; the two-sided
# p-value is _normal.erfc_sqrt2(|z|) (A&S 7.1.26, one double chain
# rendered for both engines), pre-rounded to 9 decimals so the BH
# ordering is cross-engine stable. BH adjustment is the textbook
# step-up: rank p ascending (ties broken by nation), adjusted
# p_j = min_{k≥j}(p_k·m/k) as a suffix-min window, capped at 1.
# Scale shape: one customer scan partial-aggregates to the 25-nation
# grid joined to a broadcast 1-row global; everything after touches
# 25 rows.

BH_FDR_SQL = f"""
WITH c AS (
  SELECT c_nationkey,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
), per AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(bal) AS DECIMAL(28,2)) AS s1
  FROM c GROUP BY 1
), gstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(bal) AS DECIMAL(28,2)) AS s,
         CAST(SUM(bal * bal) AS DECIMAL(38,4)) AS ssq
  FROM c
), zt AS (
  SELECT n_name,
         n1,
         round(CAST(s1 AS DOUBLE) / n1, 6) AS mean_bal,
         round(
           (CAST(s1 AS DOUBLE) / n1 - CAST(s AS DOUBLE) / n)
           / (sqrt((CAST(ssq AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
              / sqrt(CAST(n1 AS DOUBLE))), 6) AS z
  FROM per CROSS JOIN gstat
  JOIN nation ON n_nationkey = c_nationkey
), pv AS (
  SELECT n_name, n1, mean_bal, z,
         round({erfc_sqrt2('abs(z)')}, 9) AS p_raw
  FROM zt
), rk AS (
  SELECT n_name, n1, mean_bal, z, p_raw,
         ROW_NUMBER() OVER (ORDER BY p_raw, n_name) AS j,
         COUNT(*) OVER () AS m
  FROM pv
)
SELECT n_name, n1, mean_bal, z, p_raw,
       round(LEAST(1.0,
         MIN(p_raw * m / j) OVER (ORDER BY j DESC)), 6) AS p_adj,
       CASE WHEN round(LEAST(1.0,
              MIN(p_raw * m / j) OVER (ORDER BY j DESC)), 6) <= 0.05
            THEN 1 ELSE 0 END AS rejected
FROM rk
ORDER BY n_name
"""


@query("q_bh_fdr", oracle=BH_FDR_SQL)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cust = c.customer.select(
        "c_nationkey", dec("c_acctbal").alias("bal")
    )
    per = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("bal").cast("decimal(28,2)").alias("s1"),
    )
    gstat = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bal").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("bal") * F.col("bal")).cast("decimal(38,4)").alias("ssq"),
    )
    zt = (
        per.join(F.broadcast(gstat))
        .join(
            F.broadcast(c.nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
    )
    n, n1 = F.col("n"), F.col("n1")
    sd, s1d = F.col("s").cast("double"), F.col("s1").cast("double")
    mean1 = s1d / n1
    mu = sd / n
    sigma = F.sqrt((F.col("ssq").cast("double") - sd * sd / n) / n)
    z = (mean1 - mu) / (sigma / F.sqrt(n1.cast("double")))
    zt = zt.select(
        "n_name", "n1",
        F.round(mean1, 6).alias("mean_bal"),
        F.round(z, 6).alias("z"),
    )
    pv = zt.select(
        "n_name", "n1", "mean_bal", "z",
        F.round(erfc_sqrt2(F.abs(F.col("z"))), 9).alias("p_raw"),
    )
    w = Window.orderBy("p_raw", "n_name")
    rk = pv.select(
        "*",
        F.row_number().over(w).alias("j"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m"),
    )
    suffix_min = F.min(
        F.col("p_raw") * F.col("m") / F.col("j")
    ).over(Window.orderBy(F.desc("j")))
    p_adj = F.round(F.least(F.lit(1.0), suffix_min), 6)
    return rk.select(
        "n_name", "n1", "mean_bal", "z", "p_raw",
        p_adj.alias("p_adj"),
        F.when(p_adj <= 0.05, F.lit(1)).otherwise(F.lit(0)).alias("rejected"),
    ).orderBy("n_name")


# -- q_ips_policy_eval -------------------------------------------------
#
# Offline (off-policy) evaluation with inverse-propensity scoring:
# the counterfactual "what would the greedy policy have earned"
# estimate a bandit/recommender pipeline computes before shipping.
# Context = ISO day-of-week, arm = event_type, reward = value. The
# TRAIN half (ts < Jan 16) fixes both the logging propensities
# p̂(a|x) (empirical shares, rounded to DECIMAL(14,12) so both
# engines carry identical weights) and the target policy π(x) =
# argmax_a mean train reward (ties → smallest arm). The EVAL half is
# scored two ways: the direct-method mean reward of the chosen arm,
# and IPS = Σ_{a=π(x)} r · min(1/p̂, 10) / n_eval(x) with the
# standard weight clip at 10. All sums exact decimal; the only FP
# steps are the final identical divisions. Scale shape: two scans
# (train/eval split predicate pushes to the parquet scan) collapsing
# to the |dow × arms| grid; everything after touches ≤ 70 rows.

IPS_SPLIT = "2024-01-16"

IPS_SQL = f"""
WITH ev AS (
  SELECT isodow(CAST(ts AS DATE)) AS dow, event_type AS arm,
         CAST(value AS DECIMAL(18,2)) AS r,
         CASE WHEN CAST(ts AS DATE) < DATE '{IPS_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events
), tr AS (
  SELECT dow, arm,
         CAST(COUNT(*) AS BIGINT) AS n_ta,
         CAST(SUM(r) AS DECIMAL(28,2)) AS s_ta
  FROM ev WHERE is_train = 1 GROUP BY 1, 2
), trx AS (
  SELECT dow, CAST(SUM(n_ta) AS BIGINT) AS n_tx FROM tr GROUP BY 1
), pol AS (
  SELECT dow, arm AS target_arm,
         CAST(round(n_ta / CAST(n_tx AS DOUBLE), 12) AS DECIMAL(14,12))
           AS propensity
  FROM (
    SELECT tr.dow, arm, n_ta, n_tx,
           ROW_NUMBER() OVER (
             PARTITION BY tr.dow
             ORDER BY CAST(s_ta AS DOUBLE) / n_ta DESC, arm) AS rk
    FROM tr JOIN trx ON trx.dow = tr.dow
  ) WHERE rk = 1
), evx AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_eval FROM ev
  WHERE is_train = 0 GROUP BY 1
), mt AS (
  SELECT e.dow,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(e.r) AS DECIMAL(28,2)) AS s_matched
  FROM ev e JOIN pol ON pol.dow = e.dow AND pol.target_arm = e.arm
  WHERE e.is_train = 0 GROUP BY 1
)
SELECT CAST(pol.dow AS BIGINT) AS dow, pol.target_arm,
       round(CAST(pol.propensity AS DOUBLE), 6) AS propensity,
       evx.n_eval, mt.n_matched,
       round(CAST(s_matched AS DOUBLE) / n_matched, 6) AS dm_value,
       round(CAST(s_matched AS DOUBLE)
             * LEAST(1.0 / CAST(propensity AS DOUBLE), 10.0)
             / n_eval, 6) AS ips_value
FROM pol JOIN evx ON evx.dow = pol.dow
JOIN mt ON mt.dow = pol.dow
ORDER BY dow
"""


@query("q_ips_policy_eval", oracle=IPS_SQL)
def q_ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek(F.col("d")) == 1, F.lit(7)).otherwise(
        F.dayofweek(F.col("d")) - 1
    )
    ev = e.select(
        F.to_date("ts").alias("d"), F.col("event_type").alias("arm"),
        dec("value").alias("r"),
    ).select(
        iso.alias("dow"), "arm", "r",
        (F.col("d") < F.lit(IPS_SPLIT)).cast("int").alias("is_train"),
    )
    tr = ev.filter(F.col("is_train") == 1).groupBy("dow", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ta"),
        F.sum("r").cast("decimal(28,2)").alias("s_ta"),
    )
    trx = tr.groupBy("dow").agg(F.sum("n_ta").cast("bigint").alias("n_tx"))
    rk = Window.partitionBy("dow").orderBy(
        F.desc(F.col("s_ta").cast("double") / F.col("n_ta")), F.asc("arm")
    )
    pol = (
        tr.join(F.broadcast(trx), "dow")
        .select(
            "dow", F.col("arm").alias("target_arm"),
            F.round(F.col("n_ta") / F.col("n_tx").cast("double"), 12)
            .cast("decimal(14,12)").alias("propensity"),
            F.row_number().over(rk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    evx = ev.filter(F.col("is_train") == 0).groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval")
    )
    mt = (
        ev.filter(F.col("is_train") == 0)
        .join(F.broadcast(pol), ["dow"])
        .filter(F.col("arm") == F.col("target_arm"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum("r").cast("decimal(28,2)").alias("s_matched"),
        )
    )
    sm = F.col("s_matched").cast("double")
    return (
        pol.join(evx, "dow").join(mt, "dow")
        .select(
            F.col("dow").cast("bigint").alias("dow"), "target_arm",
            F.round(F.col("propensity").cast("double"), 6).alias("propensity"),
            "n_eval", "n_matched",
            F.round(sm / F.col("n_matched"), 6).alias("dm_value"),
            F.round(
                sm
                * F.least(
                    F.lit(1.0) / F.col("propensity").cast("double"), F.lit(10.0)
                )
                / F.col("n_eval"),
                6,
            ).alias("ips_value"),
        )
        .orderBy("dow")
    )


# -- q_calibration_ece -------------------------------------------------
#
# Probability-calibration audit (reliability diagram + expected
# calibration error + Brier score): the model-eval primitive run
# before trusting any classifier's scores. The "model" is the
# simplest honest one: predicted purchase propensity = TRAIN-half
# purchase rate of the event's value bin (10 fixed-width bins,
# bin = min(floor(value/50), 9) — fixed edges, no quantile pass),
# rounded to DECIMAL(8,6) so both engines score identically. The
# EVAL half is grouped by confidence decile floor(score·10):
# per-bin confidence vs realized purchase rate, |gap|, and the
# global ECE = Σ (n_b/N)·|acc_b − conf_b| and Brier = mean((s−y)²)
# — both from exact decimal sums ((8,6)² products are exact), one
# identical final division each. Scale shape: two scans collapsing
# to the 10-bin grid joined to a broadcast 1-row total.

CALIB_SPLIT = "2024-01-16"

CALIB_SQL = f"""
WITH ev AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS vbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(ts AS DATE) < DATE '{CALIB_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events WHERE value IS NOT NULL
), model AS (
  SELECT vbin,
         CAST(round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(8,6))
           AS score
  FROM ev WHERE is_train = 1 GROUP BY 1
), scored AS (
  SELECT m.score, e.y,
         LEAST(CAST(floor(CAST(m.score AS DOUBLE) * 10.0) AS BIGINT), 9)
           AS cbin
  FROM ev e JOIN model m ON m.vbin = e.vbin
  WHERE e.is_train = 0
), bins AS (
  SELECT cbin,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(score) AS DECIMAL(28,6)) AS s_conf,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM((score - y) * (score - y)) AS DECIMAL(38,12)) AS s_sq
  FROM scored GROUP BY 1
), gstat AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n,
         CAST(SUM(s_sq) AS DECIMAL(38,12)) AS brier_num,
         CAST(SUM(CAST(round(CAST(n_events AS DOUBLE)
             * abs(n_pos / CAST(n_events AS DOUBLE)
                   - CAST(s_conf AS DOUBLE) / n_events), 6)
             AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS ece_num
  FROM bins
)
SELECT cbin, n_events,
       round(CAST(s_conf AS DOUBLE) / n_events, 6) AS avg_conf,
       round(n_pos / CAST(n_events AS DOUBLE), 6) AS purchase_rate,
       round(abs(n_pos / CAST(n_events AS DOUBLE)
                 - CAST(s_conf AS DOUBLE) / n_events), 6) AS abs_gap,
       round(CAST(ece_num AS DOUBLE) / n, 6) AS ece,
       round(CAST(brier_num AS DOUBLE) / n, 6) AS brier
FROM bins CROSS JOIN gstat
ORDER BY cbin
"""


@query("q_calibration_ece", oracle=CALIB_SQL)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    ev = e.filter(F.col("value").isNotNull()).select(
        F.least(
            F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)
        ).alias("vbin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (F.to_date("ts") < F.lit(CALIB_SPLIT)).cast("int").alias("is_train"),
    )
    model = ev.filter(F.col("is_train") == 1).groupBy("vbin").agg(
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6)
        .cast("decimal(8,6)").alias("score")
    )
    scored = (
        ev.filter(F.col("is_train") == 0)
        .join(F.broadcast(model), "vbin")
        .select(
            "score", "y",
            F.least(
                F.floor(F.col("score").cast("double") * 10.0).cast("bigint"),
                F.lit(9),
            ).alias("cbin"),
        )
    )
    bins = scored.groupBy("cbin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("score").cast("decimal(28,6)").alias("s_conf"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum((F.col("score") - F.col("y")) * (F.col("score") - F.col("y")))
        .cast("decimal(38,12)").alias("s_sq"),
    )
    acc = F.col("n_pos") / F.col("n_events").cast("double")
    conf = F.col("s_conf").cast("double") / F.col("n_events")
    gstat = bins.agg(
        F.sum("n_events").cast("bigint").alias("n"),
        F.sum("s_sq").cast("decimal(38,12)").alias("brier_num"),
        F.sum(
            F.round(
                F.col("n_events").cast("double")
                * F.abs(
                    F.col("n_pos") / F.col("n_events").cast("double")
                    - F.col("s_conf").cast("double") / F.col("n_events")
                ),
                6,
            ).cast("decimal(28,6)")
        ).cast("decimal(28,6)").alias("ece_num"),
    )
    return (
        bins.join(F.broadcast(gstat))
        .select(
            "cbin", "n_events",
            F.round(conf, 6).alias("avg_conf"),
            F.round(acc, 6).alias("purchase_rate"),
            F.round(F.abs(acc - conf), 6).alias("abs_gap"),
            F.round(F.col("ece_num").cast("double") / F.col("n"), 6)
            .alias("ece"),
            F.round(F.col("brier_num").cast("double") / F.col("n"), 6)
            .alias("brier"),
        )
        .orderBy("cbin")
    )


# -- q_simpsons_detector -----------------------------------------------
#
# Simpson's-paradox detector: does the discount→revenue relationship
# reverse when conditioned on brand? For the pooled data and for each
# p_brand, the OLS slope of extendedprice on discount from EXACT
# decimal moments (the q_regression determinism pattern: n·Σxy − ΣxΣy
# over n·Σx² − (Σx)² — centered forms stay exact decimal, one double
# division at the end), flagging brands whose within-slope sign
# contradicts the pooled sign — the confounding audit run before
# trusting any aggregate metric trend. Scale shape: one fact scan
# joins the broadcast part dim and partial-aggregates to the |brands|
# grid carrying five decimal moments; the pooled row is the same
# moments re-summed (exact, order-independent), broadcast back.

SIMPSONS_SQL = """
WITH m AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS sy,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(38,4)) AS sxy,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(38,4)) AS sxx
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1
), pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS pn,
         CAST(SUM(sx) AS DECIMAL(38,2)) AS psx,
         CAST(SUM(sy) AS DECIMAL(38,2)) AS psy,
         CAST(SUM(sxy) AS DECIMAL(38,4)) AS psxy,
         CAST(SUM(sxx) AS DECIMAL(38,4)) AS psxx
  FROM m
)
SELECT p_brand, n,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS within_slope,
       round((pn * CAST(psxy AS DOUBLE)
              - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
             / (pn * CAST(psxx AS DOUBLE)
                - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)),
             6) AS pooled_slope,
       CAST(CASE WHEN sign(n * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    <> sign(pn * CAST(psxy AS DOUBLE)
                            - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
            THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
FROM m CROSS JOIN pooled
ORDER BY p_brand
"""


@query("q_simpsons_detector", oracle=SIMPSONS_SQL)
def q_simpsons_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select(
        "l_partkey",
        dec("l_discount").alias("x"),
        dec("l_extendedprice").alias("y"),
    )
    m = (
        li.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("decimal(28,2)").alias("sx"),
            F.sum("y").cast("decimal(28,2)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
        )
        .localCheckpoint(eager=True)  # pooled row + output both consume
    )
    pooled = m.agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("sx").cast("decimal(38,2)").alias("psx"),
        F.sum("sy").cast("decimal(38,2)").alias("psy"),
        F.sum("sxy").cast("decimal(38,4)").alias("psxy"),
        F.sum("sxx").cast("decimal(38,4)").alias("psxx"),
    )
    j = m.join(F.broadcast(pooled))
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    pn = F.col("pn")
    pnum = pn * F.col("psxy").cast("double") - F.col("psx").cast(
        "double"
    ) * F.col("psy").cast("double")
    pden = pn * F.col("psxx").cast("double") - F.col("psx").cast(
        "double"
    ) * F.col("psx").cast("double")
    return j.select(
        "p_brand", "n",
        F.round(num / den, 6).alias("within_slope"),
        F.round(pnum / pden, 6).alias("pooled_slope"),
        F.when(F.signum(num) != F.signum(pnum), 1)
        .otherwise(0).cast("bigint").alias("sign_reversed"),
    ).orderBy("p_brand")


# -- q_qq_normal -------------------------------------------------------
#
# Normal Q–Q diagnostic table per event type: empirical deciles of
# value (exact order statistics — smallest value whose cumulative
# count reaches ceil(q·n), computed on the distinct-value grid with
# one cumulative window, the q_lateness_percentiles shape — never a
# row-level sort) against the fitted-normal quantiles μ + σ·z_q. The
# standard-normal decile z_q are fixed literal constants (Φ⁻¹ at
# 0.1..0.9), so the only engine-computed FP is μ/σ from exact
# decimal moments and one multiply-add per cell; deviations beyond
# 0.25σ flag non-normality (heavy tails/skew) — the check run before
# trusting any z-score-based monitor on that metric.

_QQ_Z = [
    ("0.1", "-1.2815515655446004"), ("0.2", "-0.8416212335729143"),
    ("0.3", "-0.5244005127080407"), ("0.4", "-0.2533471031357997"),
    ("0.5", "0.0"), ("0.6", "0.2533471031357997"),
    ("0.7", "0.5244005127080407"), ("0.8", "0.8416212335729143"),
    ("0.9", "1.2815515655446004"),
]

QQ_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x
  FROM events WHERE value IS NOT NULL
), mstat AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s,
         CAST(SUM(x * x) AS DECIMAL(38,4)) AS ssq
  FROM v GROUP BY 1
), g AS (
  SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2
), cg AS (
  SELECT event_type, x, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY x) AS cum
  FROM g
), qs AS (
  SELECT q FROM (VALUES {", ".join(f"({q})" for q, _ in _QQ_Z)}) AS t(q)
), emp AS (
  SELECT cg.event_type, qs.q,
         CAST(MIN(CASE WHEN cum >= CAST(ceil(CAST(qs.q AS DOUBLE) * m.n) AS BIGINT)
                       THEN x END) AS DOUBLE) AS empirical
  FROM cg JOIN mstat m ON m.event_type = cg.event_type
  CROSS JOIN qs
  GROUP BY 1, 2
)
SELECT emp.event_type, CAST(emp.q AS DOUBLE) AS q,
       round(empirical, 6) AS empirical,
       round(CAST(s AS DOUBLE) / n
             + sqrt((CAST(ssq AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
               * (CASE {" ".join(f"WHEN emp.q = {q} THEN {z}" for q, z in _QQ_Z)} END),
             6) AS theoretical,
       round(empirical
             - (CAST(s AS DOUBLE) / n
                + sqrt((CAST(ssq AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
                  * (CASE {" ".join(f"WHEN emp.q = {q} THEN {z}" for q, z in _QQ_Z)} END)),
             6) AS deviation,
       CAST(CASE WHEN abs(empirical
             - (CAST(s AS DOUBLE) / n
                + sqrt((CAST(ssq AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
                  * (CASE {" ".join(f"WHEN emp.q = {q} THEN {z}" for q, z in _QQ_Z)} END)))
             > 0.25 * sqrt((CAST(ssq AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
            THEN 1 ELSE 0 END AS BIGINT) AS non_normal_flag
FROM emp JOIN mstat ON mstat.event_type = emp.event_type
ORDER BY emp.event_type, q
"""


@query("q_qq_normal", oracle=QQ_SQL)
def q_qq_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    v = e.filter(F.col("value").isNotNull()).select(
        "event_type", dec("value").alias("x")
    )
    mstat = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("ssq"),
    )
    g = v.groupBy("event_type", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cg = g.select(
        "event_type", "x", "c",
        F.sum("c").over(
            Window.partitionBy("event_type").orderBy("x")
        ).alias("cum"),
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q, _ in _QQ_Z])
    ).alias("q")
    emp = (
        cg.join(F.broadcast(mstat.select("event_type", "n")), "event_type")
        .select("event_type", "x", "cum", "n", qs)
        .groupBy("event_type", "q")
        .agg(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.col("q") * F.col("n")).cast("bigint"),
                    F.col("x"),
                )
            ).cast("double").alias("empirical")
        )
    )
    zmap = F.element_at(
        F.create_map(
            *[x for q, z in _QQ_Z for x in (F.lit(float(q)), F.lit(float(z)))]
        ),
        F.col("q"),
    )
    j = emp.join(F.broadcast(mstat), "event_type")
    sd = F.col("s").cast("double")
    mu = sd / F.col("n")
    sigma = F.sqrt((F.col("ssq").cast("double") - sd * sd / F.col("n")) / F.col("n"))
    theo = mu + sigma * zmap
    dev = F.col("empirical") - theo
    return j.select(
        "event_type", "q",
        F.round("empirical", 6).alias("empirical"),
        F.round(theo, 6).alias("theoretical"),
        F.round(dev, 6).alias("deviation"),
        F.when(F.abs(dev) > 0.25 * sigma, 1).otherwise(0).cast("bigint")
        .alias("non_normal_flag"),
    ).orderBy("event_type", "q")


# -- q_power_mde -------------------------------------------------------
#
# Experiment power planner: the minimum detectable effect of a
# two-sample test on value per event type at α=0.05 (two-sided) and
# 80% power — MDE = (z_{α/2}+z_{β})·σ·√(2/n) with the two z as fixed
# literal constants (1.959963984540054, 0.8416212335729143) — the
# "is this experiment even worth running at our traffic" sizing
# table produced before q_ab_test consumes the data. σ comes from
# exact decimal moments; one identical double expression per row.
# Scale shape: one scan → |types| grid; n is halved (per-arm split).

POWER_MDE_SQL = """
WITH v AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s,
         CAST(SUM(x * x) AS DECIMAL(38,4)) AS ssq
  FROM v GROUP BY 1
)
SELECT event_type, n,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_value,
       round(sqrt((CAST(ssq AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 6)
         AS sigma,
       round(CAST(2.8015852181129683 AS DOUBLE)
             * sqrt((CAST(ssq AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
             * sqrt(2.0 / floor(n / 2.0)), 6) AS mde_abs,
       round(CAST(2.8015852181129683 AS DOUBLE)
             * sqrt((CAST(ssq AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
             * sqrt(2.0 / floor(n / 2.0))
             / (CAST(s AS DOUBLE) / n), 6) AS mde_rel
FROM m
ORDER BY event_type
"""


@query("q_power_mde", oracle=POWER_MDE_SQL)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    v = e.filter(F.col("value").isNotNull()).select(
        "event_type", dec("value").alias("x")
    )
    m = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("ssq"),
    )
    n, sd = F.col("n"), F.col("s").cast("double")
    mu = sd / n
    sigma = F.sqrt((F.col("ssq").cast("double") - sd * sd / n) / n)
    zsum = F.lit(2.8015852181129683)
    mde = zsum * sigma * F.sqrt(F.lit(2.0) / F.floor(n / F.lit(2.0)))
    return m.select(
        "event_type", "n",
        F.round(mu, 6).alias("mean_value"),
        F.round(sigma, 6).alias("sigma"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mu, 6).alias("mde_rel"),
    ).orderBy("event_type")


# -- q_bootstrap_ci ----------------------------------------------------
#
# Distributed DETERMINISTIC bootstrap (Poisson bootstrap, the
# resampling scheme that works on sharded data because each row
# draws its replica weight independently — Chamandy et al. 2012):
# B = 96 replicas of each event type's mean value, the Poisson(1)
# weight derived hash-cheaply: ONE md5 of (event_id, group) yields
# EIGHT independent 16-bit uniforms (32 hex chars = 8 × 4-hex
# chunks), so 12 md5 calls per row cover all 96 replicas (the
# hash-budget trick that makes the 100×-ish expansion affordable —
# a naive per-replica md5 was measured 4× slower). Uniforms map to
# weights through literal inverse-CDF thresholds — no RNG, identical
# on both engines and any partitioning. Replica means are
# exact integer-cents ratio aggregates; the 95% CI is the exact
# p2.5/p97.5 order statistic of the 96 means and the SE is the
# decimal-rounded-term standard deviation. Scale shape: a bounded
# 96× generate partial-aggregated straight down to the |type × B|
# grid; everything after touches 96 rows per type.

_POIS = [
    ("0.36787944117144233", 0), ("0.7357588823428847", 1),
    ("0.919698602928606", 2), ("0.9810118431238462", 3),
    ("0.9963401531726563", 4), ("0.9994058151824183", 5),
]

_POIS_SQL = " ".join(
    f"WHEN u < {t} THEN {k}" for t, k in _POIS
)

BOOTSTRAP_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
         event_id
  FROM events WHERE value IS NOT NULL
), hg AS (
  SELECT event_type, xc, event_id, g,
         md5(CAST(event_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS h
  FROM ev, UNNEST(generate_series(0, 11)) AS t(g)
), rep AS (
  SELECT event_type, xc, g * 8 + ck AS b,
         ('0x' || substr(h, 1 + 4 * ck, 4))::BIGINT / 65536.0 AS u
  FROM hg, UNNEST(generate_series(0, 7)) AS t2(ck)
), wtd AS (
  SELECT event_type, b, xc, CASE {_POIS_SQL} ELSE 6 END AS w
  FROM rep
), means AS (
  SELECT event_type, b,
         CAST(SUM(w * xc) AS BIGINT) AS sxc,
         CAST(SUM(w) AS BIGINT) AS sw
  FROM wtd GROUP BY 1, 2
), mv AS (
  SELECT event_type, b,
         round(sxc / (100.0 * sw), 6) AS m
  FROM means WHERE sw > 0
), r AS (
  SELECT event_type, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m, b) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM mv
), mm AS (
  SELECT event_type,
         CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sm,
         CAST(SUM(CAST(m AS DECIMAL(18,6)) * CAST(m AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS smm,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM mv GROUP BY 1
)
SELECT r.event_type,
       CAST(MAX(r.nb) AS BIGINT) AS n_replicas,
       round(CAST(MAX(mm.sm) AS DOUBLE) / MAX(mm.nb), 6) AS boot_mean,
       round(sqrt((CAST(MAX(mm.smm) AS DOUBLE)
                   - CAST(MAX(mm.sm) AS DOUBLE) * CAST(MAX(mm.sm) AS DOUBLE)
                     / MAX(mm.nb)) / (MAX(mm.nb) - 1)), 6) AS boot_se,
       MAX(CASE WHEN rk = CAST(ceil(0.025 * r.nb) AS BIGINT) THEN m END)
         AS ci_lo,
       MAX(CASE WHEN rk = CAST(ceil(0.975 * r.nb) AS BIGINT) THEN m END)
         AS ci_hi
FROM r JOIN mm ON mm.event_type = r.event_type
GROUP BY 1
ORDER BY r.event_type
"""


@query("q_bootstrap_ci", oracle=BOOTSTRAP_SQL)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    # integer CENTS, not decimal: the replica sums are exact bigint
    # arithmetic (value ≤ decimal(18,2) ⇒ ×100 is an integral cast),
    # which keeps the 96×-expanded aggregation on the primitive-long
    # hash-agg fast path — measured 5.4 s vs 9.4 s for decimal sums
    # at sf0.1.
    # single-file scan: the 96x replica expansion (1.2M md5, 9.6M
    # conv/when rows) is per-row-heavy and must not run on one core
    ev = spread(
        e.filter(F.col("value").isNotNull()).select(
            "event_type",
            (dec("value") * 100).cast("bigint").alias("xc"),
            "event_id",
        )
    )
    hg = ev.select(
        "event_type", "xc",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("g"),
        "event_id",
    ).select(
        "event_type", "xc", "g",
        F.md5(
            F.concat(
                F.col("event_id").cast("string"), F.lit(":"),
                F.col("g").cast("string"),
            )
        ).alias("h"),
    )
    rep = hg.select(
        "event_type", "xc", "g",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("ck"),
        "h",
    ).select(
        "event_type", "xc",
        (F.col("g") * 8 + F.col("ck")).alias("b"),
        (
            F.conv(
                F.substring("h", F.lit(1) + 4 * F.col("ck"), F.lit(4)),
                16, 10,
            ).cast("bigint")
            / F.lit(65536.0)
        ).alias("u"),
    )
    w = F.lit(6)
    for thr, k in reversed(_POIS):
        w = F.when(F.col("u") < float(thr), k).otherwise(w)
    means = (
        rep.select("event_type", "b", w.alias("w"), "xc")
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("xc")).cast("bigint").alias("sxc"),
            F.sum("w").cast("bigint").alias("sw"),
        )
    )
    mv = means.filter(F.col("sw") > 0).select(
        "event_type", "b",
        F.round(F.col("sxc") / (100.0 * F.col("sw")), 6).alias("m"),
    ).localCheckpoint(eager=True)  # rank grid + moment grid both consume
    wr = Window.partitionBy("event_type")
    r = mv.select(
        "event_type", "m",
        F.row_number().over(wr.orderBy("m", "b")).alias("rk"),
        F.count(F.lit(1)).over(wr).alias("nb"),
    )
    md = F.col("m").cast("decimal(18,6)")
    mm = mv.groupBy("event_type").agg(
        F.sum(md).cast("decimal(28,6)").alias("sm"),
        F.sum(md * md).cast("decimal(38,12)").alias("smm"),
        F.count(F.lit(1)).cast("bigint").alias("nb2"),
    )
    j = r.join(F.broadcast(mm), "event_type")
    smd = F.max("sm").cast("double")
    nbd = F.max("nb2")
    return j.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_replicas"),
        F.round(smd / nbd, 6).alias("boot_mean"),
        F.round(
            F.sqrt(
                (F.max("smm").cast("double") - smd * smd / nbd)
                / (nbd - F.lit(1))
            ),
            6,
        ).alias("boot_se"),
        F.max(
            F.when(
                F.col("rk")
                == F.ceil(F.lit(0.025) * F.col("nb")).cast("bigint"),
                F.col("m"),
            )
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("rk")
                == F.ceil(F.lit(0.975) * F.col("nb")).cast("bigint"),
                F.col("m"),
            )
        ).alias("ci_hi"),
    ).orderBy("event_type")


# -- q_auc_roc ---------------------------------------------------------
#
# Ranking-quality AUC-ROC of the q_calibration_ece model (train-half
# value-bin purchase propensity scoring the eval half): AUC via the
# rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁·n₀) — algebraically
# the Mann–Whitney U, so it reuses the q_mannwhitney exact-integer
# midrank machinery (2·R₁ on the distinct-score grid; ties between
# positives and negatives contribute ½ exactly). One identical final
# division; the score grid has ≤10 distinct values so every window
# is grid-sized. The model-eval companion of q_calibration_ece:
# calibration says "are the probabilities honest", AUC says "do they
# rank".

AUC_SPLIT = "2024-01-16"

AUC_SQL = f"""
WITH ev AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS vbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(ts AS DATE) < DATE '{AUC_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events WHERE value IS NOT NULL
), model AS (
  SELECT vbin,
         CAST(round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(8,6))
           AS score
  FROM ev WHERE is_train = 1 GROUP BY 1
), scored AS (
  SELECT m.score, e.y FROM ev e JOIN model m ON m.vbin = e.vbin
  WHERE e.is_train = 0
), g AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
), rg AS (
  SELECT score, cnt, pos,
         CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS cum
  FROM g
), agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(cnt - pos) AS BIGINT) AS n0,
         CAST(SUM(pos * (2 * cum - cnt + 1)) AS BIGINT) AS r2x
  FROM rg
)
SELECT n1 AS n_pos, n0 AS n_neg,
       round((r2x - n1 * (n1 + 1))
             / (2.0 * CAST(n1 AS DOUBLE) * n0), 6) AS auc,
       round((r2x - n1 * (n1 + 1)) / (2.0 * CAST(n1 AS DOUBLE) * n0)
             - 0.5, 6) AS gini_rank
FROM agg
"""


@query("q_auc_roc", oracle=AUC_SQL)
def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    ev = e.filter(F.col("value").isNotNull()).select(
        F.least(
            F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)
        ).alias("vbin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (F.to_date("ts") < F.lit(AUC_SPLIT)).cast("int").alias("is_train"),
    )
    model = ev.filter(F.col("is_train") == 1).groupBy("vbin").agg(
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6)
        .cast("decimal(8,6)").alias("score")
    )
    scored = (
        ev.filter(F.col("is_train") == 0)
        .join(F.broadcast(model), "vbin")
        .select("score", "y")
    )
    g = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    rg = g.select(
        "score", "cnt", "pos",
        F.sum("cnt").over(Window.orderBy("score")).cast("bigint").alias("cum"),
    )
    agg = rg.agg(
        F.sum("pos").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n0"),
        F.sum(
            F.col("pos") * (2 * F.col("cum") - F.col("cnt") + 1)
        ).cast("bigint").alias("r2x"),
    )
    n1, n0, r2x = F.col("n1"), F.col("n0"), F.col("r2x")
    auc = (r2x - n1 * (n1 + 1)) / (2.0 * n1.cast("double") * n0)
    return agg.select(
        n1.alias("n_pos"), n0.alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(auc - 0.5, 6).alias("gini_rank"),
    )


# -- q_hill_tail_index -------------------------------------------------
#
# Hill estimator of the revenue-distribution tail index (Hill 1975):
# α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the k = 100 largest
# customer revenues — the heavy-tail diagnostic that says whether
# revenue concentration has finite variance (α > 2) or a single
# customer can dominate any sample (α ≤ 2); decides if mean-based
# monitors are even meaningful. Revenues are exact decimal sums; the
# rank cut is a deterministic (revenue DESC, custkey) row_number
# over the customer grid (the documented q_gini grid sort); each ln
# term rounds to DECIMAL(18,9) before the exact sum
# (order-independent), one final division.

HILL_K = 100

HILL_SQL = f"""
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS r
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS i FROM rev
), thr AS (
  SELECT CAST(r AS DOUBLE) AS xk1 FROM ranked WHERE i = {HILL_K} + 1
), terms AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE) / xk1), 9) AS DECIMAL(18,9)) AS t
  FROM ranked CROSS JOIN thr WHERE i <= {HILL_K}
)
SELECT CAST({HILL_K} AS BIGINT) AS k,
       round((SELECT xk1 FROM thr), 6) AS x_k_plus_1,
       round(CAST(SUM(t) AS DOUBLE) / {HILL_K}, 6) AS mean_log_excess,
       round({HILL_K} / CAST(SUM(t) AS DOUBLE), 6) AS tail_index
FROM terms
"""


@query("q_hill_tail_index", oracle=HILL_SQL)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    rev = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("decimal(19,2)").alias("r")
    )
    ranked = rev.select(
        "r",
        F.row_number().over(Window.orderBy(F.desc("r"), F.asc("o_custkey")))
        .alias("i"),
    ).filter(F.col("i") <= HILL_K + 1).localCheckpoint(eager=True)
    thr = ranked.filter(F.col("i") == HILL_K + 1).select(
        F.col("r").cast("double").alias("xk1")
    )
    terms = (
        ranked.filter(F.col("i") <= HILL_K)
        .join(F.broadcast(thr))
        .select(
            F.round(F.log(F.col("r").cast("double") / F.col("xk1")), 9)
            .cast("decimal(18,9)").alias("t"),
            "xk1",
        )
    )
    return terms.agg(
        F.lit(HILL_K).cast("bigint").alias("k"),
        F.round(F.max("xk1"), 6).alias("x_k_plus_1"),
        F.round(F.sum("t").cast("double") / HILL_K, 6).alias("mean_log_excess"),
        F.round(F.lit(float(HILL_K)) / F.sum("t").cast("double"), 6)
        .alias("tail_index"),
    )


# -- q_spearman --------------------------------------------------------
#
# Spearman rank correlation between the click and purchase daily
# revenue series (the robust is-there-a-monotone-relationship test —
# Pearson on midranks, immune to the heavy tails q_hill_tail_index
# measures): midranks via the distinct-value cumulative grid in
# exact 2·rank integers (the q_mannwhitney machinery), then Pearson
# from exact integer moments — scale-invariance of Pearson means the
# doubled ranks change nothing. One identical double expression at
# the end. Scale shape: the stream collapses to the bounded
# |days| grid; everything after is grid-sized.

SPEARMAN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
), j AS (
  SELECT x.day, x.rev AS xv, y.rev AS yv
  FROM (SELECT day, rev FROM daily WHERE event_type = 'click') x
  JOIN (SELECT day, rev FROM daily WHERE event_type = 'purchase') y
    ON y.day = x.day
), rx AS (
  SELECT xv, CAST(2 * SUM(cnt) OVER (ORDER BY xv) - cnt + 1 AS BIGINT) AS r2
  FROM (SELECT xv, CAST(COUNT(*) AS BIGINT) AS cnt FROM j GROUP BY 1)
), ry AS (
  SELECT yv, CAST(2 * SUM(cnt) OVER (ORDER BY yv) - cnt + 1 AS BIGINT) AS r2
  FROM (SELECT yv, CAST(COUNT(*) AS BIGINT) AS cnt FROM j GROUP BY 1)
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx.r2) AS BIGINT) AS sx,
         CAST(SUM(ry.r2) AS BIGINT) AS sy,
         CAST(SUM(rx.r2 * ry.r2) AS BIGINT) AS sxy,
         CAST(SUM(rx.r2 * rx.r2) AS BIGINT) AS sxx,
         CAST(SUM(ry.r2 * ry.r2) AS BIGINT) AS syy
  FROM j JOIN rx ON rx.xv = j.xv JOIN ry ON ry.yv = j.yv
)
SELECT n AS n_days,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS spearman_rho
FROM m
"""


@query("q_spearman", oracle=SPEARMAN_SQL)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(dec("value")).cast("decimal(19,2)").alias("rev"))
        .localCheckpoint(eager=True)
    )
    x = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("rev").alias("xv")
    )
    y = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("yv")
    )
    j = x.join(y, x.day == y.yday).select("xv", "yv").localCheckpoint(
        eager=True
    )  # two rank grids + the moment pass consume

    def ranks(col):
        g = j.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        return g.select(
            col,
            (
                2 * F.sum("cnt").over(Window.orderBy(col))
                - F.col("cnt") + 1
            ).cast("bigint").alias("r2"),
        )

    rx = ranks("xv").withColumnRenamed("r2", "rx2")
    ry = ranks("yv").withColumnRenamed("r2", "ry2")
    m = (
        j.join(rx, "xv")
        .join(ry, "yv")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("rx2").cast("bigint").alias("sx"),
            F.sum("ry2").cast("bigint").alias("sy"),
            F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
            F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
            F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        )
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    rho = (n * F.col("sxy").cast("double") - sx * sy) / (
        F.sqrt(n * F.col("sxx").cast("double") - sx * sx)
        * F.sqrt(n * F.col("syy").cast("double") - sy * sy)
    )
    return m.select(
        n.alias("n_days"), F.round(rho, 6).alias("spearman_rho")
    )


# -- q_kendall_tau -----------------------------------------------------
#
# Kendall's τ-b between the same two series: concordant/discordant
# pair counts with the standard tie corrections — the
# finite-sample-robust sibling of q_spearman (τ has better small-n
# properties and a direct probabilistic reading: P(concordant) −
# P(discordant)). The pair join is |days|² of the bounded day grid —
# a documented grid-quadratic (3650 days of history ⇒ 13 M pairs,
# trivially partitionable), never a row-level product. Exact integer
# counts; one identical double expression.

KENDALL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
), j AS (
  SELECT x.day, x.rev AS xv, y.rev AS yv
  FROM (SELECT day, rev FROM daily WHERE event_type = 'click') x
  JOIN (SELECT day, rev FROM daily WHERE event_type = 'purchase') y
    ON y.day = x.day
), pr AS (
  SELECT CASE WHEN (a.xv < b.xv AND a.yv < b.yv)
                OR (a.xv > b.xv AND a.yv > b.yv) THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.xv < b.xv AND a.yv > b.yv)
                OR (a.xv > b.xv AND a.yv < b.yv) THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.xv = b.xv AND a.yv <> b.yv THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.yv = b.yv AND a.xv <> b.xv THEN 1 ELSE 0 END AS ty
  FROM j a JOIN j b ON a.day < b.day
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(conc) AS BIGINT) AS c,
         CAST(SUM(disc) AS BIGINT) AS d,
         CAST(SUM(tx) AS BIGINT) AS tx,
         CAST(SUM(ty) AS BIGINT) AS ty
  FROM pr
)
SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
       CASE WHEN (n0 - tx) > 0 AND (n0 - ty) > 0 THEN
         round((c - d) / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 6)
       ELSE 0.0 END AS kendall_tau_b
FROM m
"""


@query("q_kendall_tau", oracle=KENDALL_SQL)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(dec("value")).cast("decimal(19,2)").alias("rev"))
        .localCheckpoint(eager=True)
    )
    x = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("rev").alias("xv")
    )
    y = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("rev").alias("yv")
    )
    j = x.join(y, x.day == y.yday).select("day", "xv", "yv")
    a = j.select(
        F.col("day").alias("ad"), F.col("xv").alias("ax"),
        F.col("yv").alias("ay"),
    )
    b = j.select(
        F.col("day").alias("bd"), F.col("xv").alias("bx"),
        F.col("yv").alias("by"),
    )
    ax, ay, bx, by = (F.col(c) for c in ("ax", "ay", "bx", "by"))
    # broadcast the bounded day grid: the inequality self-join must
    # plan as BroadcastNestedLoopJoin, never CartesianProduct
    pr = a.join(F.broadcast(b), F.col("ad") < F.col("bd")).select(
        F.when(
            ((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1
        ).otherwise(0).alias("conc"),
        F.when(
            ((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1
        ).otherwise(0).alias("disc"),
        F.when((ax == bx) & (ay != by), 1).otherwise(0).alias("tx"),
        F.when((ay == by) & (ax != bx), 1).otherwise(0).alias("ty"),
    )
    m = pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("d"),
        F.sum("tx").cast("bigint").alias("tx"),
        F.sum("ty").cast("bigint").alias("ty"),
    )
    n0, c, d = F.col("n0"), F.col("c"), F.col("d")
    tau = (c - d) / F.sqrt(
        (n0 - F.col("tx")).cast("double") * (n0 - F.col("ty"))
    )
    return m.select(
        n0.alias("n_pairs"), c.alias("concordant"), d.alias("discordant"),
        F.when(
            ((n0 - F.col("tx")) > 0) & ((n0 - F.col("ty")) > 0),
            F.round(tau, 6),
        ).otherwise(F.lit(0.0)).alias("kendall_tau_b"),
    )


# -- q_pacf ------------------------------------------------------------
#
# Partial autocorrelation at lags 1–3 per series (Durbin–Levinson
# closed forms): together with q_autocorrelation's ACF this is the
# Box–Jenkins order-identification pair — AR order shows as a PACF
# cutoff the raw ACF hides. The lagged Pearson ρ₁..ρ₃ are computed
# exactly as q_autocorrelation does (exact decimal moments, ONE
# window sort per series feeds all three lags) and ROUNDED to 6
# before entering the recursion, so both engines run identical
# closed-form double arithmetic:
#   φ11 = ρ1,  φ22 = (ρ2 − ρ1²)/(1 − ρ1²),
#   φ33 = (ρ3 − φ21ρ2 − φ22ρ1)/(1 − φ21ρ1 − φ22ρ2),
#   φ21 = ρ1(1 − φ22).

_PACF_RHO = """
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho{k}
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
"""

PACF_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events GROUP BY 1, 2
), r1 AS ({r1}), r2 AS ({r2}), r3 AS ({r3}),
j AS (
  SELECT r1.event_type, rho1, rho2, rho3
  FROM r1 JOIN r2 ON r2.event_type = r1.event_type
  JOIN r3 ON r3.event_type = r1.event_type
),
lv AS (
  SELECT event_type, rho1, rho2, rho3,
         (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) AS phi22
  FROM j
)
SELECT event_type, rho1 AS pacf_1,
       round(phi22, 6) AS pacf_2,
       round((rho3 - (rho1 * (1.0 - phi22)) * rho2 - phi22 * rho1)
             / (1.0 - (rho1 * (1.0 - phi22)) * rho1 - phi22 * rho2), 6)
         AS pacf_3
FROM lv
ORDER BY event_type
""".format(
    r1=_PACF_RHO.format(k=1), r2=_PACF_RHO.format(k=2),
    r3=_PACF_RHO.format(k=3),
)


@query("q_pacf", oracle=PACF_SQL)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(19,2)").alias("rev")
    ).localCheckpoint(eager=True)  # three lag passes consume
    w = Window.partitionBy("event_type").orderBy("day")

    def rho(k: int) -> DataFrame:
        pairs = daily.select(
            "event_type",
            F.col("rev").alias("y"),
            F.lag("rev", k).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        m = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("decimal(19,2)").alias("sx"),
            F.sum("y").cast("decimal(19,2)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(30,4)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(30,4)").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(30,4)").alias("syy"),
        )
        cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        return m.select(
            "event_type",
            F.round(cov / F.sqrt(vx * vy), 6).alias(f"rho{k}"),
        )

    j = rho(1).join(rho(2), "event_type").join(rho(3), "event_type")
    r1c, r2c, r3c = F.col("rho1"), F.col("rho2"), F.col("rho3")
    phi22 = (r2c - r1c * r1c) / (1.0 - r1c * r1c)
    phi21 = r1c * (1.0 - phi22)
    return j.select(
        "event_type",
        r1c.alias("pacf_1"),
        F.round(phi22, 6).alias("pacf_2"),
        F.round(
            (r3c - phi21 * r2c - phi22 * r1c)
            / (1.0 - phi21 * r1c - phi22 * r2c),
            6,
        ).alias("pacf_3"),
    ).orderBy("event_type")


# -- q_overdispersion --------------------------------------------------
#
# Overdispersion audit of daily event counts per type: the
# variance-to-mean ratio (Fisher dispersion index) with the χ²-based
# z test — Poisson-distributed counts have ratio 1; a significantly
# larger ratio (clumped traffic) means Poisson rate alerts and
# negative-binomial-free capacity models will false-alarm. Counts
# are exact integers (Σc, Σc² as bigints over the bounded day grid);
# the index and z = (D − (n−1))/√(2(n−1)) are one identical double
# expression each. The count-model companion to q_anomaly_zscore.

OVERDISP_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ssq
  FROM d GROUP BY 1
)
SELECT event_type, n AS n_days, s AS n_events,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_daily,
       round((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
             / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index,
       round(((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
              / (CAST(s AS DOUBLE) / n) - (n - 1))
             / sqrt(2.0 * (n - 1)), 6) AS z_overdispersion
FROM m
ORDER BY event_type
"""


@query("q_overdispersion", oracle=OVERDISP_SQL)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssq"),
    )
    n, s = F.col("n"), F.col("s")
    sd, ssqd = s.cast("double"), F.col("ssq").cast("double")
    mean = sd / n
    css = ssqd - sd * s / n
    return m.select(
        "event_type", n.alias("n_days"), s.alias("n_events"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(css / (n - 1) / mean, 6).alias("dispersion_index"),
        F.round((css / mean - (n - 1)) / F.sqrt(2.0 * (n - 1)), 6)
        .alias("z_overdispersion"),
    ).orderBy("event_type")


# -- q_james_stein -----------------------------------------------------
#
# James–Stein shrinkage of per-nation mean account balances toward
# the grand mean (Efron–Morris): small nations' noisy means shrink
# hard, large nations' barely move — the hierarchical-modeling
# primitive behind every "per-segment estimate with small segments"
# dashboard, and the fix for q_bh_fdr-style league tables that
# overreact to small-n extremes. Positive-part estimator with
# per-group variance σ²/nᵢ: B = max(0, 1 − (k−3)·(σ²/nᵢ)/Σⱼ(mⱼ−μ̂)²)
# computed per group against the shared squared-deviation total
# (decimal-rounded terms summed exactly). All moments exact decimal;
# μ̂, σ², deviations, B and the shrunk mean are identical double
# expressions; broadcast 1-row globals.

JS_SQL = """
WITH c AS (
  SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
), per AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(bal) AS DECIMAL(28,2)) AS s_i
  FROM c GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(bal) AS DECIMAL(28,2)) AS s,
         CAST(SUM(bal * bal) AS DECIMAL(38,4)) AS ssq,
         (SELECT COUNT(*) FROM per) AS k
  FROM c
), dev AS (
  SELECT c_nationkey, n_i,
         CAST(s_i AS DOUBLE) / n_i AS m_i,
         CAST(s AS DOUBLE) / n AS mu,
         (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
           / n AS sig2,
         k
  FROM per CROSS JOIN g
), tot AS (
  SELECT CAST(SUM(CAST(round((m_i - mu) * (m_i - mu), 6)
                       AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS ssdev
  FROM dev
)
SELECT n_name, n_i,
       round(m_i, 6) AS raw_mean,
       round(GREATEST(0.0,
             1.0 - (k - 3) * (sig2 / n_i) / CAST(ssdev AS DOUBLE)), 6)
         AS shrink_factor,
       round(mu + GREATEST(0.0,
             1.0 - (k - 3) * (sig2 / n_i) / CAST(ssdev AS DOUBLE))
             * (m_i - mu), 6) AS shrunk_mean
FROM dev CROSS JOIN tot
JOIN nation ON n_nationkey = c_nationkey
ORDER BY n_name
"""


@query("q_james_stein", oracle=JS_SQL)
def q_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c = cat.customer.select(
        "c_nationkey", dec("c_acctbal").alias("bal")
    )
    per = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("bal").cast("decimal(28,2)").alias("s_i"),
    )
    g = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bal").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("bal") * F.col("bal")).cast("decimal(38,4)").alias("ssq"),
    )
    k = per.agg(F.count(F.lit(1)).alias("k"))
    dev = per.join(F.broadcast(g)).join(F.broadcast(k)).select(
        "c_nationkey", "n_i", "k",
        (F.col("s_i").cast("double") / F.col("n_i")).alias("m_i"),
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        (
            (
                F.col("ssq").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n")
            )
            / F.col("n")
        ).alias("sig2"),
    ).localCheckpoint(eager=True)  # deviation total + output both consume
    tot = dev.agg(
        F.sum(
            F.round(
                (F.col("m_i") - F.col("mu")) * (F.col("m_i") - F.col("mu")), 6
            ).cast("decimal(28,6)")
        ).cast("decimal(28,6)").alias("ssdev")
    )
    j = dev.join(F.broadcast(tot)).join(
        F.broadcast(cat.nation),
        F.col("n_nationkey") == F.col("c_nationkey"),
    )
    b = F.greatest(
        F.lit(0.0),
        1.0
        - (F.col("k") - 3)
        * (F.col("sig2") / F.col("n_i"))
        / F.col("ssdev").cast("double"),
    )
    return j.select(
        "n_name", "n_i",
        F.round(F.col("m_i"), 6).alias("raw_mean"),
        F.round(b, 6).alias("shrink_factor"),
        F.round(F.col("mu") + b * (F.col("m_i") - F.col("mu")), 6)
        .alias("shrunk_mean"),
    ).orderBy("n_name")


# -- q_ljung_box -------------------------------------------------------
#
# Ljung–Box portmanteau whiteness test per series: Q = n(n+2)·Σ_{k≤6}
# ρ_k²/(n−k) against the χ²₆ 5% critical value 12.592 (a literal) —
# the is-there-ANY-autocorrelation-left gate run on residuals before
# trusting a forecasting model (the aggregate companion of the
# per-lag ACF/PACF pair). Each ρ_k comes from the same exact-moment
# lagged-Pearson block as q_pacf, rounded to 6 before squaring, so
# both engines run identical doubles; ONE window sort per series
# feeds all six lags.

LJUNG_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events GROUP BY 1, 2
),
nd AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1
),
r1 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 1) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
),
r2 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 2) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
),
r3 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 3) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
),
r4 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 4) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
),
r5 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 5) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
),
r6 AS (
  SELECT event_type,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho,
         n
  FROM (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(x) AS DECIMAL(19,2)) AS sx,
           CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
           CAST(SUM(x * y) AS DECIMAL(30,4)) AS sxy,
           CAST(SUM(x * x) AS DECIMAL(30,4)) AS sxx,
           CAST(SUM(y * y) AS DECIMAL(30,4)) AS syy
    FROM (
      SELECT event_type, rev AS y,
             LAG(rev, 6) OVER (PARTITION BY event_type ORDER BY day) AS x
      FROM daily
    ) WHERE x IS NOT NULL GROUP BY 1
  )
)
SELECT nd.event_type, nd.n AS n_days,
       round(nd.n * (nd.n + 2.0) * (r1.rho * r1.rho / (nd.n - 1) + r2.rho * r2.rho / (nd.n - 2) + r3.rho * r3.rho / (nd.n - 3) + r4.rho * r4.rho / (nd.n - 4) + r5.rho * r5.rho / (nd.n - 5) + r6.rho * r6.rho / (nd.n - 6)), 6) AS ljung_box_q,
       CAST(6 AS BIGINT) AS dof,
       CAST(CASE WHEN nd.n * (nd.n + 2.0) * (r1.rho * r1.rho / (nd.n - 1) + r2.rho * r2.rho / (nd.n - 2) + r3.rho * r3.rho / (nd.n - 3) + r4.rho * r4.rho / (nd.n - 4) + r5.rho * r5.rho / (nd.n - 5) + r6.rho * r6.rho / (nd.n - 6)) > 12.592
            THEN 1 ELSE 0 END AS BIGINT) AS reject_whiteness
FROM nd
JOIN r1 ON r1.event_type = nd.event_type
JOIN r2 ON r2.event_type = nd.event_type
JOIN r3 ON r3.event_type = nd.event_type
JOIN r4 ON r4.event_type = nd.event_type
JOIN r5 ON r5.event_type = nd.event_type
JOIN r6 ON r6.event_type = nd.event_type
ORDER BY nd.event_type
"""


@query("q_ljung_box", oracle=LJUNG_SQL)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(19,2)").alias("rev")
    ).localCheckpoint(eager=True)  # six lag passes consume
    w = Window.partitionBy("event_type").orderBy("day")
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )

    def rho(k: int) -> DataFrame:
        pairs = daily.select(
            "event_type",
            F.col("rev").alias("y"),
            F.lag("rev", k).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        m = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("decimal(19,2)").alias("sx"),
            F.sum("y").cast("decimal(19,2)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(30,4)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(30,4)").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(30,4)").alias("syy"),
        )
        cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        return m.select(
            "event_type",
            F.round(cov / F.sqrt(vx * vy), 6).alias(f"rho{k}"),
        )

    j = nd
    for k in range(1, 7):
        j = j.join(rho(k), "event_type")
    n = F.col("n")
    qsum = sum(
        (F.col(f"rho{k}") * F.col(f"rho{k}")) / (n - k) for k in range(1, 7)
    )
    q = n * (n + F.lit(2.0)) * qsum
    return j.select(
        "event_type", n.alias("n_days"),
        F.round(q, 6).alias("ljung_box_q"),
        F.lit(6).cast("bigint").alias("dof"),
        F.when(q > 12.592, 1).otherwise(0).cast("bigint")
        .alias("reject_whiteness"),
    ).orderBy("event_type")


# -- q_anova_oneway ----------------------------------------------------
#
# One-way ANOVA of account balance across market segments: the
# classic F test (between-groups vs within-groups mean squares) plus
# the η² effect size — the many-groups generalization of q_ab_test's
# two-sample comparison, run before any per-segment mean table is
# read as signal. Sums of squares decompose from EXACT decimal
# moments: SS_total and SS_between both reduce to Σs_i²/n_i and
# (Σs)²/N terms over exact sums, so the only FP is the identical
# final expression chain. Scale shape: one scan to the |segments|
# grid; broadcast 1-row totals.

ANOVA_SQL = """
WITH c AS (
  SELECT c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS x
  FROM customer
), per AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s_i
  FROM c GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s,
         CAST(SUM(x * x) AS DECIMAL(38,4)) AS ssq,
         (SELECT COUNT(*) FROM per) AS k
  FROM c
), sb AS (
  SELECT CAST(SUM(CAST(round(
           n_i * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g))
               * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g)), 6)
           AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS ssb
  FROM per
)
SELECT CAST(g.n AS BIGINT) AS n_customers,
       CAST(g.k AS BIGINT) AS n_segments,
       round(CAST(ssb AS DOUBLE), 6) AS ss_between,
       round((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             - CAST(ssb AS DOUBLE), 6) AS ss_within,
       round((CAST(ssb AS DOUBLE) / (k - 1))
             / (((CAST(ssq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 - CAST(ssb AS DOUBLE)) / (n - k)), 6) AS f_stat,
       round(CAST(ssb AS DOUBLE)
             / (CAST(ssq AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
         AS eta_squared
FROM g CROSS JOIN sb
"""


@query("q_anova_oneway", oracle=ANOVA_SQL)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer.select(
        F.col("c_mktsegment").alias("seg"), dec("c_acctbal").alias("x")
    )
    per = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("decimal(28,2)").alias("s_i"),
    )
    g = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("ssq"),
    )
    k = per.agg(F.count(F.lit(1)).alias("k"))
    # ss_between as Σ nᵢ(mᵢ−μ)² with decimal-rounded terms: the
    # Σsᵢ²/nᵢ − (Σs)²/N form cancels 4e13-scale doubles down to 4e7
    # and amplifies summation-order ulps past round(…,6)
    mu = g.select((F.col("s").cast("double") / F.col("n")).alias("mu"))
    sb = per.join(F.broadcast(mu)).agg(
        F.sum(
            F.round(
                F.col("n_i")
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu"))
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu")),
                6,
            ).cast("decimal(28,6)")
        ).cast("decimal(28,6)").alias("ssb")
    )
    j = g.join(F.broadcast(k)).join(F.broadcast(sb))
    n, kk = F.col("n"), F.col("k")
    sd = F.col("s").cast("double")
    ss_b = F.col("ssb").cast("double")
    ss_t = F.col("ssq").cast("double") - sd * sd / n
    ss_w = ss_t - ss_b
    return j.select(
        n.alias("n_customers"),
        kk.cast("bigint").alias("n_segments"),
        F.round(ss_b, 6).alias("ss_between"),
        F.round(ss_w, 6).alias("ss_within"),
        F.round((ss_b / (kk - 1)) / (ss_w / (n - kk)), 6).alias("f_stat"),
        F.round(ss_b / ss_t, 6).alias("eta_squared"),
    )


# -- q_tukey_hsd -------------------------------------------------------
#
# Tukey HSD post-hoc pairwise comparisons after q_anova_oneway: for
# every segment pair, the studentized-range statistic
# q = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j)) against the literal
# k=5, df→∞ 5% critical value 3.858 — which specific segments differ
# once the omnibus F fires (running pairwise t-tests instead is the
# multiple-comparison mistake q_bh_fdr exists to fix; HSD controls
# the familywise rate by design). MSW from the cancellation-safe
# ANOVA decomposition (decimal-rounded between terms); the 10 pairs
# are a broadcast self-join of the 5-row segment grid.

TUKEY_CRIT = 3.858  # studentized range q(0.05, k=5, df=inf)

TUKEY_SQL = f"""
WITH c AS (
  SELECT c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS x
  FROM customer
), per AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s_i
  FROM c GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s,
         CAST(SUM(x * x) AS DECIMAL(38,4)) AS ssq,
         (SELECT COUNT(*) FROM per) AS k
  FROM c
), sb AS (
  SELECT CAST(SUM(CAST(round(
           n_i * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g))
               * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g)), 6)
           AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS ssb
  FROM per
), msw AS (
  SELECT ((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
          - CAST(ssb AS DOUBLE)) / (n - k) AS msw
  FROM g CROSS JOIN sb
)
SELECT a.seg AS seg_a, b.seg AS seg_b,
       round(CAST(a.s_i AS DOUBLE) / a.n_i
             - CAST(b.s_i AS DOUBLE) / b.n_i, 6) AS mean_diff,
       round(abs(CAST(a.s_i AS DOUBLE) / a.n_i
                 - CAST(b.s_i AS DOUBLE) / b.n_i)
             / sqrt(msw / 2.0 * (1.0 / a.n_i + 1.0 / b.n_i)), 6) AS q_stat,
       CAST(CASE WHEN abs(CAST(a.s_i AS DOUBLE) / a.n_i
                          - CAST(b.s_i AS DOUBLE) / b.n_i)
                      / sqrt(msw / 2.0 * (1.0 / a.n_i + 1.0 / b.n_i))
                      > {TUKEY_CRIT}
            THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM per a JOIN per b ON a.seg < b.seg
CROSS JOIN msw
ORDER BY seg_a, seg_b
"""


@query("q_tukey_hsd", oracle=TUKEY_SQL)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer.select(
        F.col("c_mktsegment").alias("seg"), dec("c_acctbal").alias("x")
    )
    per = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("decimal(28,2)").alias("s_i"),
    ).localCheckpoint(eager=True)  # grand stats, ssb, and pairs consume
    g = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("ssq"),
    )
    k = per.agg(F.count(F.lit(1)).alias("k"))
    mu = g.select((F.col("s").cast("double") / F.col("n")).alias("mu"))
    sb = per.join(F.broadcast(mu)).agg(
        F.sum(
            F.round(
                F.col("n_i")
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu"))
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu")),
                6,
            ).cast("decimal(28,6)")
        ).cast("decimal(28,6)").alias("ssb")
    )
    msw = (
        g.join(F.broadcast(k)).join(F.broadcast(sb))
        .select(
            (
                (
                    (
                        F.col("ssq").cast("double")
                        - F.col("s").cast("double") * F.col("s").cast("double")
                        / F.col("n")
                    )
                    - F.col("ssb").cast("double")
                )
                / (F.col("n") - F.col("k"))
            ).alias("msw")
        )
    )
    a = per.select(
        F.col("seg").alias("seg_a"), F.col("n_i").alias("na"),
        F.col("s_i").alias("sa"),
    )
    b = per.select(
        F.col("seg").alias("seg_b"), F.col("n_i").alias("nb"),
        F.col("s_i").alias("sb2"),
    )
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b")).join(
        F.broadcast(msw)
    )
    diff = F.col("sa").cast("double") / F.col("na") - F.col("sb2").cast(
        "double"
    ) / F.col("nb")
    qstat = F.abs(diff) / F.sqrt(
        F.col("msw") / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "seg_a", "seg_b",
        F.round(diff, 6).alias("mean_diff"),
        F.round(qstat, 6).alias("q_stat"),
        F.when(qstat > TUKEY_CRIT, 1).otherwise(0).cast("bigint")
        .alias("significant"),
    ).orderBy("seg_a", "seg_b")


# -- q_mcnemar ---------------------------------------------------------
#
# McNemar's paired test for conversion change: each user is a PAIRED
# observation (did they purchase in the pre-half? in the post-half?),
# and only the discordant cells carry information — χ² = (b−c)²/(b+c)
# with the continuity correction (|b−c|−1)²/(b+c), against the χ²₁
# 5% critical value 3.841 (literal). The right test when "conversion
# went from 12% to 14%" is computed on the SAME users — the
# independent-samples z of q_ab_test overstates certainty there.
# Exact integer cells; identical double expressions. Scale: one
# grouped scan to the |users| grid, one 4-cell aggregate.

MCNEMAR_SPLIT = "2024-01-16"

MCNEMAR_SQL = f"""
WITH per AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase'
                  AND CAST(ts AS DATE) < DATE '{MCNEMAR_SPLIT}'
             THEN 1 ELSE 0 END) AS pre,
         MAX(CASE WHEN event_type = 'purchase'
                  AND CAST(ts AS DATE) >= DATE '{MCNEMAR_SPLIT}'
             THEN 1 ELSE 0 END) AS post
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS both_halves,
         CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS pre_only,
         CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS post_only,
         CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS neither
  FROM per
)
SELECT n_users, both_halves, pre_only, post_only, neither,
       CASE WHEN pre_only + post_only > 0 THEN
         round((abs(pre_only - post_only) - 1.0)
               * (abs(pre_only - post_only) - 1.0)
               / (pre_only + post_only), 6)
       ELSE 0.0 END AS mcnemar_chi2,
       CAST(CASE WHEN pre_only + post_only > 0
                 AND (abs(pre_only - post_only) - 1.0)
                     * (abs(pre_only - post_only) - 1.0)
                     / (pre_only + post_only) > 3.841
            THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM m
"""


@query("q_mcnemar", oracle=MCNEMAR_SQL)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    is_p = F.col("event_type") == "purchase"
    pre = F.max(
        F.when(is_p & (F.to_date("ts") < F.lit(MCNEMAR_SPLIT)), 1).otherwise(0)
    )
    post = F.max(
        F.when(is_p & (F.to_date("ts") >= F.lit(MCNEMAR_SPLIT)), 1).otherwise(0)
    )
    per = e.groupBy("user_id").agg(pre.alias("pre"), post.alias("post"))

    def cell(a, b):
        return F.sum(
            F.when((F.col("pre") == a) & (F.col("post") == b), 1).otherwise(0)
        ).cast("bigint")

    m = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        cell(1, 1).alias("both_halves"),
        cell(1, 0).alias("pre_only"),
        cell(0, 1).alias("post_only"),
        cell(0, 0).alias("neither"),
    )
    b, c = F.col("pre_only"), F.col("post_only")
    chi2 = (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c)
    return m.select(
        "n_users", "both_halves", "pre_only", "post_only", "neither",
        F.when(b + c > 0, F.round(chi2, 6)).otherwise(F.lit(0.0))
        .alias("mcnemar_chi2"),
        F.when((b + c > 0) & (chi2 > 3.841), 1).otherwise(0).cast("bigint")
        .alias("significant"),
    )


# -- q_levene_test -----------------------------------------------------
#
# Brown–Forsythe variance-homogeneity test (Levene with median
# centers — the robust variant): are balance VARIANCES equal across
# segments? The validity precondition of q_anova_oneway's F and of
# every pooled-σ z-test upstream. Per-segment medians are exact
# order statistics from the distinct-value cumulative grid, so the
# deviations z = |x − med| stay EXACT DECIMAL end-to-end; the
# one-way F on z reuses the cancellation-safe decomposition
# (decimal-rounded between terms). Critical value χ²/F≈2.372
# (F(4,∞) at 5%) as a literal flag. Scale shape: two grouped scans
# (values grid, deviations) + grid work.

LEVENE_CRIT = 2.372  # F(0.05; k-1=4, inf)

LEVENE_SQL = """
WITH c AS (
  SELECT c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS x
  FROM customer
), gv AS (
  SELECT seg, x, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2
), cg AS (
  SELECT seg, x, cnt,
         SUM(cnt) OVER (PARTITION BY seg ORDER BY x) AS cum,
         SUM(cnt) OVER (PARTITION BY seg) AS m
  FROM gv
), med AS (
  SELECT seg,
         MIN(CASE WHEN cum >= CAST(ceil(0.5 * m) AS BIGINT) THEN x END)
           AS med
  FROM cg GROUP BY 1
), z AS (
  SELECT c.seg, CAST(abs(x - med) AS DECIMAL(18,2)) AS z
  FROM c JOIN med ON med.seg = c.seg
), per AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(z) AS DECIMAL(28,2)) AS s_i
  FROM z GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS DECIMAL(28,2)) AS s,
         CAST(SUM(CAST(z AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)))
              AS DECIMAL(38,4)) AS ssq,
         (SELECT COUNT(*) FROM per) AS k
  FROM z
), sb AS (
  SELECT CAST(SUM(CAST(round(
           n_i * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g))
               * (CAST(s_i AS DOUBLE) / n_i
                  - (SELECT CAST(s AS DOUBLE) / n FROM g)), 6)
           AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS ssb
  FROM per
)
SELECT CAST(g.n AS BIGINT) AS n_customers,
       CAST(g.k AS BIGINT) AS n_segments,
       round((CAST(ssb AS DOUBLE) / (k - 1))
             / (((CAST(ssq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 - CAST(ssb AS DOUBLE)) / (n - k)), 6) AS bf_w_stat,
       CAST(CASE WHEN (CAST(ssb AS DOUBLE) / (k - 1))
                      / (((CAST(ssq AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                          - CAST(ssb AS DOUBLE)) / (n - k)) > 2.372
            THEN 1 ELSE 0 END AS BIGINT) AS heteroscedastic
FROM g CROSS JOIN sb
"""


@query("q_levene_test", oracle=LEVENE_SQL)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer.select(
        F.col("c_mktsegment").alias("seg"), dec("c_acctbal").alias("x")
    )
    gv = c.groupBy("seg", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wp = Window.partitionBy("seg")
    cg = gv.select(
        "seg", "x", "cnt",
        F.sum("cnt").over(wp.orderBy("x")).alias("cum"),
        F.sum("cnt").over(wp).alias("m"),
    )
    med = cg.groupBy("seg").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.5 * F.col("m")).cast("bigint"),
                F.col("x"),
            )
        ).alias("med")
    )
    z = c.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("x") - F.col("med")).cast("decimal(19,2)").alias("z")
    ).localCheckpoint(eager=True)  # per-segment and grand moments consume
    per = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("z").cast("decimal(28,2)").alias("s_i"),
    )
    g = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("decimal(38,4)").alias("ssq"),
    )
    k = per.agg(F.count(F.lit(1)).alias("k"))
    mu = g.select((F.col("s").cast("double") / F.col("n")).alias("mu"))
    sb = per.join(F.broadcast(mu)).agg(
        F.sum(
            F.round(
                F.col("n_i")
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu"))
                * (F.col("s_i").cast("double") / F.col("n_i") - F.col("mu")),
                6,
            ).cast("decimal(28,6)")
        ).cast("decimal(28,6)").alias("ssb")
    )
    j = g.join(F.broadcast(k)).join(F.broadcast(sb))
    n, kk = F.col("n"), F.col("k")
    sd = F.col("s").cast("double")
    ss_b = F.col("ssb").cast("double")
    ss_w = (F.col("ssq").cast("double") - sd * sd / n) - ss_b
    w_stat = (ss_b / (kk - 1)) / (ss_w / (n - kk))
    return j.select(
        n.alias("n_customers"),
        kk.cast("bigint").alias("n_segments"),
        F.round(w_stat, 6).alias("bf_w_stat"),
        F.when(w_stat > LEVENE_CRIT, 1).otherwise(0).cast("bigint")
        .alias("heteroscedastic"),
    )


# -- q_cochran_armitage -------------------------------------------------
#
# Cochran–Armitage trend test: is the purchase share MONOTONICALLY
# trending across the ordered day-of-week scores 1..7? The χ²
# independence test only says "differs somewhere"; CA spends its one
# degree of freedom on the ordered alternative, which is what a
# weekly-cycle hypothesis actually claims. T = Σsᵢrᵢ with
# E = p̄Σsᵢnᵢ and Var = p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N) — all exact
# integers until the final identical double z. Scale: one scan to
# the 7-row grid.

CA_SQL = """
WITH d AS (
  SELECT isodow(ts) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_i
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(r_i) AS BIGINT) AS r,
         CAST(SUM(s * r_i) AS BIGINT) AS t_stat,
         CAST(SUM(s * n_i) AS BIGINT) AS sn,
         CAST(SUM(s * s * n_i) AS BIGINT) AS ssn
  FROM d
)
SELECT n AS n_events, r AS n_purchases,
       round(CAST(r AS DOUBLE) / n, 6) AS overall_share,
       CAST(t_stat AS BIGINT) AS trend_stat,
       round((t_stat - (CAST(r AS DOUBLE) / n) * sn)
             / sqrt((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                    * (ssn - CAST(sn AS DOUBLE) * sn / n)), 6) AS trend_z
FROM m
"""


@query("q_cochran_armitage", oracle=CA_SQL)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek("ts") == 1, F.lit(7)).otherwise(
        F.dayofweek("ts") - 1
    )
    d = e.groupBy(iso.alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("r_i"),
    )
    m = d.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("s") * F.col("r_i")).cast("bigint").alias("t_stat"),
        F.sum(F.col("s") * F.col("n_i")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).cast("bigint")
        .alias("ssn"),
    )
    n, r = F.col("n"), F.col("r")
    p = r.cast("double") / n
    z = (F.col("t_stat") - p * F.col("sn")) / F.sqrt(
        p * (1.0 - p) * (F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / n)
    )
    return m.select(
        n.alias("n_events"), r.alias("n_purchases"),
        F.round(p, 6).alias("overall_share"),
        F.col("t_stat").alias("trend_stat"),
        F.round(z, 6).alias("trend_z"),
    )


# -- q_logrank ---------------------------------------------------------
#
# Log-rank test comparing time-to-repeat-purchase survival between
# AUTOMOBILE-segment customers and everyone else (the two-sample
# extension of q_survival_km: does the whole survival CURVE differ,
# not just a point estimate — censoring-aware where a t-test on
# observed gaps would be biased). At every distinct departure time,
# group-wise risk sets come from one cumulative window over the
# common (time × group) grid; the hypergeometric expectation and
# variance terms round to DECIMAL(18,9) before EXACT sums
# (order-independent); O₁, χ² = (O₁−E₁)²/V and the χ²₁ 5% flag are
# identical double expressions. Scale shape: per-customer window +
# groupBy to observations, then grid-sized everything.

LOGRANK_SQL = """
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
  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS grp,
         CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
              ELSE date_diff('day', d1, de) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs CROSS JOIN endd
  JOIN customer ON c_custkey = o_custkey
), gtot AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng FROM obs GROUP BY 1
), tg AS (
  SELECT grp, t, CAST(SUM(ev) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM obs GROUP BY 1, 2
), times AS (SELECT DISTINCT t FROM tg),
grid AS (
  SELECT g.grp, times.t,
         COALESCE(tg.d, 0) AS d, COALESCE(tg.c, 0) AS c
  FROM times CROSS JOIN (SELECT 0 AS grp UNION ALL SELECT 1) g
  LEFT JOIN tg ON tg.grp = g.grp AND tg.t = times.t
), atrisk AS (
  SELECT grp, t, d,
         ng - COALESCE(CAST(SUM(c) OVER (PARTITION BY grp ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS nr
  FROM grid JOIN gtot USING (grp)
), wide AS (
  SELECT t,
         MAX(CASE WHEN grp = 1 THEN d END) AS d1,
         MAX(CASE WHEN grp = 0 THEN d END) AS d0,
         MAX(CASE WHEN grp = 1 THEN nr END) AS n1,
         MAX(CASE WHEN grp = 0 THEN nr END) AS n0
  FROM atrisk GROUP BY 1
), terms AS (
  SELECT d1,
         CAST(round((d1 + d0) * n1 / CAST(n1 + n0 AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS e1,
         CAST(round((d1 + d0)
                    * (n1 / CAST(n1 + n0 AS DOUBLE))
                    * (n0 / CAST(n1 + n0 AS DOUBLE))
                    * (n1 + n0 - d1 - d0)
                    / (n1 + n0 - 1.0), 9) AS DECIMAL(18,9)) AS v
  FROM wide
  WHERE d1 + d0 > 0 AND n1 + n0 > 1
), m AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(e1) AS DECIMAL(28,9)) AS e1,
         CAST(SUM(v) AS DECIMAL(28,9)) AS v
  FROM terms
)
SELECT o1 AS observed_g1,
       round(CAST(e1 AS DOUBLE), 6) AS expected_g1,
       round((o1 - CAST(e1 AS DOUBLE)) * (o1 - CAST(e1 AS DOUBLE))
             / CAST(v AS DOUBLE), 6) AS logrank_chi2,
       CAST(CASE WHEN (o1 - CAST(e1 AS DOUBLE)) * (o1 - CAST(e1 AS DOUBLE))
                      / CAST(v AS DOUBLE) > 3.841
            THEN 1 ELSE 0 END AS BIGINT) AS curves_differ
FROM m
"""


@query("q_logrank", oracle=LOGRANK_SQL)
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    o = cat.orders
    wc = Window.partitionBy("o_custkey")
    obs0 = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.min(F.col("o_orderdate").cast("date")).over(wc).alias("d1"),
    )
    fs = obs0.groupBy("o_custkey", "d1").agg(
        F.min(F.when(F.col("od") > F.col("d1"), F.col("od"))).alias("d2")
    )
    endd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("de"))
    obs = (
        fs.join(F.broadcast(endd))
        .join(
            F.broadcast(cat.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0)
            .alias("grp"),
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            ).otherwise(F.datediff("de", "d1")).alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    gtot = obs.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("ng"))
    tg = obs.groupBy("grp", "t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    ).localCheckpoint(eager=True)  # times grid + join both consume
    times = tg.select("t").distinct()
    groups = tg.sparkSession.createDataFrame([(0,), (1,)], "grp int")
    grid = (
        times.join(F.broadcast(groups))
        .join(tg, ["grp", "t"], "left")
        .select(
            "grp", "t",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    wg = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    atrisk = grid.join(F.broadcast(gtot), "grp").select(
        "grp", "t", "d",
        (
            F.col("ng")
            - F.coalesce(F.sum("c").over(wg).cast("bigint"), F.lit(0))
        ).alias("nr"),
    )
    wide = atrisk.groupBy("t").agg(
        F.max(F.when(F.col("grp") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("grp") == 0, F.col("d"))).alias("d0"),
        F.max(F.when(F.col("grp") == 1, F.col("nr"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("nr"))).alias("n0"),
    )
    d1, d0, n1, n0 = (F.col(c) for c in ("d1", "d0", "n1", "n0"))
    nt = n1 + n0
    dt = d1 + d0
    terms = wide.filter((dt > 0) & (nt > 1)).select(
        "d1",
        F.round(dt * n1 / nt.cast("double"), 9).cast("decimal(18,9)")
        .alias("e1"),
        F.round(
            dt
            * (n1 / nt.cast("double"))
            * (n0 / nt.cast("double"))
            * (nt - dt)
            / (nt - F.lit(1.0)),
            9,
        ).cast("decimal(18,9)").alias("v"),
    )
    m = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1").cast("decimal(28,9)").alias("e1"),
        F.sum("v").cast("decimal(28,9)").alias("v"),
    )
    o1 = F.col("o1")
    e1d = F.col("e1").cast("double")
    chi2 = (o1 - e1d) * (o1 - e1d) / F.col("v").cast("double")
    return m.select(
        o1.alias("observed_g1"),
        F.round(e1d, 6).alias("expected_g1"),
        F.round(chi2, 6).alias("logrank_chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("bigint")
        .alias("curves_differ"),
    )


# -- q_bimodality ------------------------------------------------------
#
# Sarle's bimodality coefficient per event type:
# b = (g₁² + 1)/(g₂ + 3(n−1)²/((n−2)(n−3))) from sample skewness g₁
# and excess kurtosis g₂ — b > 5/9 (the uniform's value) flags a
# value distribution that is plausibly a MIXTURE of two populations,
# i.e. "this metric is two cohorts pretending to be one" (the cheap
# precursor to any mixture-model fit). Values are bounded decimals
# (≤ 500.00), so ALL four power sums stay exact: x as DECIMAL(8,2),
# x² (16,4), x³ (24,6), x⁴ (32,8) — each a width-safe exact decimal
# aggregate; the central-moment assembly is one identical double
# expression chain. Scale: one scan to the |types| grid.

BIMODALITY_SQL = """
WITH v AS (
  SELECT event_type, CAST(value AS DECIMAL(8,2)) AS x
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,2)) AS s1,
         CAST(SUM(CAST(x * x AS DECIMAL(19,4))) AS DECIMAL(36,4)) AS s2,
         CAST(SUM(CAST(CAST(x * x AS DECIMAL(19,4)) * x AS DECIMAL(27,6)))
              AS DECIMAL(38,6)) AS s3,
         CAST(SUM(CAST(CAST(x * x AS DECIMAL(19,4))
                       * CAST(x * x AS DECIMAL(15,4)) AS DECIMAL(35,8)))
              AS DECIMAL(38,8)) AS s4
  FROM v GROUP BY 1
), c AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s2 AS DOUBLE) / n)
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM m
)
SELECT event_type, n,
       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
       round((m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2))) + 1.0)
             / ((m4 / (m2 * m2) - 3.0)
                + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0))),
             6) AS bimodality_coeff,
       CAST(CASE WHEN (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2))) + 1.0)
                      / ((m4 / (m2 * m2) - 3.0)
                         + 3.0 * (n - 1.0) * (n - 1.0)
                           / ((n - 2.0) * (n - 3.0))) > 0.555556
            THEN 1 ELSE 0 END AS BIGINT) AS mixture_suspect
FROM c
ORDER BY event_type
"""


@query("q_bimodality", oracle=BIMODALITY_SQL)
def q_bimodality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    x = F.col("value").cast("decimal(8,2)")
    # width 19 on ONE factor keeps DuckDB's x2*x2 off its int64 fast
    # path (the q_sax_symbols overflow lesson) while the (19,4)×(15,4)
    # product stays ≤38 digits, so Spark never scale-rounds it either
    x2 = (x * x).cast("decimal(19,4)")
    x2n = (x * x).cast("decimal(15,4)")
    m = e.filter(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("decimal(28,2)").alias("s1"),
        F.sum(x2).cast("decimal(36,4)").alias("s2"),
        F.sum((x2 * x).cast("decimal(27,6)")).cast("decimal(38,6)").alias("s3"),
        F.sum((x2 * x2n).cast("decimal(35,8)")).cast("decimal(38,8)").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3.0
    bc = (g1 * g1 + 1.0) / (
        g2 + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0))
    )
    return m.select(
        "event_type", "n",
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(bc, 6).alias("bimodality_coeff"),
        F.when(bc > 0.555556, 1).otherwise(0).cast("bigint")
        .alias("mixture_suspect"),
    ).orderBy("event_type")


# -- q_pr_curve --------------------------------------------------------
#
# Precision–recall operating curve for the calibration model (the
# q_calibration_ece / q_auc_roc scorer): at every distinct score
# threshold, precision / recall / F1 plus the KS separation
# |TPR − FPR| with the max-KS row flagged — the table a deployment
# reads to PICK the threshold (AUC says the ranking is good; this
# says where to cut it). Everything derives from ONE descending
# cumulative pass over the ≤10-row distinct-score grid: cum
# positives/negatives above each threshold are exact integers, every
# ratio an identical double. Scale: grid-only after the scan.

PR_SPLIT = "2024-01-16"

PR_SQL = f"""
WITH ev AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS vbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(ts AS DATE) < DATE '{PR_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events WHERE value IS NOT NULL
), model AS (
  SELECT vbin,
         CAST(round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(8,6))
           AS score
  FROM ev WHERE is_train = 1 GROUP BY 1
), scored AS (
  SELECT m.score, e.y FROM ev e JOIN model m ON m.vbin = e.vbin
  WHERE e.is_train = 0
), g AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM scored GROUP BY 1
), tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS q
  FROM g
), c AS (
  SELECT score,
         CAST(SUM(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         CAST(SUM(neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp
  FROM g
)
SELECT CAST(score AS DOUBLE) AS threshold,
       tp, fp,
       round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
       round(tp / CAST(p AS DOUBLE), 6) AS recall,
       CASE WHEN tp > 0 THEN
         round(2.0 * tp / CAST(tp + fp AS DOUBLE) * (tp / CAST(p AS DOUBLE))
               / (tp / CAST(tp + fp AS DOUBLE) + tp / CAST(p AS DOUBLE)), 6)
       ELSE 0.0 END AS f1,
       round(abs(tp / CAST(p AS DOUBLE) - fp / CAST(q AS DOUBLE)), 6) AS ks,
       CAST(CASE WHEN ROW_NUMBER() OVER (
              ORDER BY abs(tp / CAST(p AS DOUBLE) - fp / CAST(q AS DOUBLE))
                       DESC, score) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS is_max_ks
FROM c CROSS JOIN tot
ORDER BY threshold
"""


@query("q_pr_curve", oracle=PR_SQL)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    ev = e.filter(F.col("value").isNotNull()).select(
        F.least(
            F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)
        ).alias("vbin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (F.to_date("ts") < F.lit(PR_SPLIT)).cast("int").alias("is_train"),
    )
    model = ev.filter(F.col("is_train") == 1).groupBy("vbin").agg(
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6)
        .cast("decimal(8,6)").alias("score")
    )
    scored = (
        ev.filter(F.col("is_train") == 0)
        .join(F.broadcast(model), "vbin")
        .select("score", "y")
    )
    g = scored.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    )
    tot = g.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("neg").cast("bigint").alias("q"),
    )
    c = g.select(
        "score",
        F.sum("pos").over(Window.orderBy(F.desc("score"))).cast("bigint")
        .alias("tp"),
        F.sum("neg").over(Window.orderBy(F.desc("score"))).cast("bigint")
        .alias("fp"),
    )
    j = c.join(F.broadcast(tot))
    tp, fp = F.col("tp"), F.col("fp")
    prec = tp / (tp + fp).cast("double")
    rec = tp / F.col("p").cast("double")
    ks = F.abs(rec - fp / F.col("q").cast("double"))
    wk = Window.orderBy(F.desc(ks), F.asc("score"))
    return j.select(
        F.col("score").cast("double").alias("threshold"),
        "tp", "fp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.when(tp > 0, F.round(2.0 * prec * rec / (prec + rec), 6))
        .otherwise(F.lit(0.0)).alias("f1"),
        F.round(ks, 6).alias("ks"),
        F.when(F.row_number().over(wk) == 1, 1).otherwise(0).cast("bigint")
        .alias("is_max_ks"),
    ).orderBy("threshold")


# -- q_target_encoding -------------------------------------------------
#
# Smoothed target encoding of brand → mean order-line revenue (the
# m-estimate encoder, m = 100: enc = (Σy + m·μ)/(n + m)) — the
# categorical-feature primitive that replaces high-cardinality
# one-hots; smoothing pulls rare brands toward the global mean
# exactly the way q_james_stein shrinks noisy segments. Exact
# decimal sums at native scale 4; μ, enc and the shrink weight are
# identical double expressions; broadcast 1-row global. The table
# IS the model artifact a pipeline would broadcast-join onto facts.

TARGET_ENC_M = 100

TARGET_ENC_SQL = f"""
WITH y AS (
  SELECT p_brand,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
), per AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DECIMAL(30,4)) AS s
  FROM y GROUP BY 1
), g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(s) AS DECIMAL(38,4)) AS st
  FROM per
)
SELECT p_brand, n AS n_rows,
       round(CAST(s AS DOUBLE) / n, 6) AS raw_mean,
       round((CAST(s AS DOUBLE) + {TARGET_ENC_M}
              * (CAST(st AS DOUBLE) / nt))
             / (n + {TARGET_ENC_M}.0), 6) AS encoded,
       round(n / (n + {TARGET_ENC_M}.0), 6) AS trust_weight
FROM per CROSS JOIN g
ORDER BY p_brand
"""


@query("q_target_encoding", oracle=TARGET_ENC_SQL)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    y = c.lineitem.join(
        F.broadcast(c.part.select("p_partkey", "p_brand")),
        F.col("p_partkey") == F.col("l_partkey"),
    ).select(
        "p_brand",
        (dec("l_extendedprice") * (1 - dec("l_discount"))).alias("rev"),
    )
    per = y.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("decimal(30,4)").alias("s"),
    )
    g = per.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("decimal(38,4)").alias("st"),
    )
    j = per.join(F.broadcast(g))
    n, sd = F.col("n"), F.col("s").cast("double")
    mu = F.col("st").cast("double") / F.col("nt")
    m = float(TARGET_ENC_M)
    return j.select(
        "p_brand", n.alias("n_rows"),
        F.round(sd / n, 6).alias("raw_mean"),
        F.round((sd + m * mu) / (n + m), 6).alias("encoded"),
        F.round(n / (n + m), 6).alias("trust_weight"),
    ).orderBy("p_brand")


# -- q_woe_iv ----------------------------------------------------------
#
# Weight-of-evidence / information value of the day-of-week feature
# against the purchase outcome (the credit-scorecard feature-power
# standard: IV < 0.02 useless, > 0.3 strong): WoEᵢ =
# ln(eventᵢ_share / non-eventᵢ_share), IV = Σ(eshare − neshare)·WoE
# with per-bin terms rounded to DECIMAL(18,9) before the exact sum.
# Exact integer bin counts; ln on identical ratios of exact
# integers. The scorecard sibling of q_cochran_armitage's trend z.

WOE_SQL = """
WITH b AS (
  SELECT isodow(ts) AS dow,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS ev,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
              AS BIGINT) AS ne
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(SUM(ev) AS BIGINT) AS tev, CAST(SUM(ne) AS BIGINT) AS tne
  FROM b
), woe AS (
  SELECT dow, ev, ne,
         round(ln((ev / CAST(tev AS DOUBLE)) / (ne / CAST(tne AS DOUBLE))),
               6) AS woe,
         CAST(round((ev / CAST(tev AS DOUBLE) - ne / CAST(tne AS DOUBLE))
                    * ln((ev / CAST(tev AS DOUBLE))
                         / (ne / CAST(tne AS DOUBLE))), 9)
              AS DECIMAL(18,9)) AS iv_term
  FROM b CROSS JOIN g
  WHERE ev > 0 AND ne > 0
), tot AS (
  SELECT CAST(SUM(iv_term) AS DECIMAL(28,9)) AS iv FROM woe
)
SELECT CAST(dow AS BIGINT) AS dow, ev AS n_purchases, ne AS n_other,
       woe,
       round(CAST(iv AS DOUBLE), 6) AS information_value
FROM woe CROSS JOIN tot
ORDER BY dow
"""


@query("q_woe_iv", oracle=WOE_SQL)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek("ts") == 1, F.lit(7)).otherwise(
        F.dayofweek("ts") - 1
    )
    b = e.groupBy(iso.alias("dow")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("ev"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1))
        .cast("bigint").alias("ne"),
    )
    g = b.agg(
        F.sum("ev").cast("bigint").alias("tev"),
        F.sum("ne").cast("bigint").alias("tne"),
    )
    j = b.join(F.broadcast(g)).filter((F.col("ev") > 0) & (F.col("ne") > 0))
    es = F.col("ev") / F.col("tev").cast("double")
    ns = F.col("ne") / F.col("tne").cast("double")
    woe_col = F.log(es / ns)
    woe = j.select(
        "dow", "ev", "ne",
        F.round(woe_col, 6).alias("woe"),
        F.round((es - ns) * woe_col, 9).cast("decimal(18,9)").alias("iv_term"),
    ).localCheckpoint(eager=True)  # IV total + rows both consume
    tot = woe.agg(F.sum("iv_term").cast("decimal(28,9)").alias("iv"))
    return (
        woe.join(F.broadcast(tot))
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            F.col("ev").alias("n_purchases"),
            F.col("ne").alias("n_other"),
            "woe",
            F.round(F.col("iv").cast("double"), 6).alias("information_value"),
        )
        .orderBy("dow")
    )


# -- q_eb_binomial -----------------------------------------------------
#
# Empirical-Bayes beta-binomial shrinkage of per-day-of-week
# purchase rates (the binomial analog of q_james_stein: league
# tables of RATES overreact to low-traffic rows just like mean
# tables do): method-of-moments prior α,β from the across-group
# rounded rates (ᾱ+β̄ = p̄(1−p̄)/s² − 1), posterior rate
# (k + α)/(n + α + β) — raw vs shrunk side by side with the
# effective prior weight. Rates round to 9 before the tiny-grid
# moment pass (7 rows, decimal-exact sums); prior and posteriors
# are identical double chains from exact integer k,n.

EB_SQL = """
WITH d AS (
  SELECT isodow(ts) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events GROUP BY 1
), p AS (
  SELECT dow, n, k,
         CAST(round(k / CAST(n AS DOUBLE), 9) AS DECIMAL(12,9)) AS r
  FROM d
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(r) AS DECIMAL(28,9)) AS sr,
         CAST(SUM(r * r) AS DECIMAL(38,18)) AS srr
  FROM p
), prior AS (
  SELECT (CAST(sr AS DOUBLE) / g) AS pbar,
         ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / g)
          / (g - 1.0)) AS s2,
         ((CAST(sr AS DOUBLE) / g) * (1.0 - CAST(sr AS DOUBLE) / g)
          / ((CAST(srr AS DOUBLE)
              - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / g) / (g - 1.0))
          - 1.0) AS m0
  FROM m
)
SELECT CAST(dow AS BIGINT) AS dow, n, k,
       round(k / CAST(n AS DOUBLE), 6) AS raw_rate,
       round(pbar * m0, 6) AS prior_alpha,
       round((1.0 - pbar) * m0, 6) AS prior_beta,
       round((k + pbar * m0) / (n + m0), 6) AS shrunk_rate,
       round(m0 / (n + m0), 6) AS prior_weight
FROM p CROSS JOIN prior
ORDER BY dow
"""


@query("q_eb_binomial", oracle=EB_SQL)
def q_eb_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek("ts") == 1, F.lit(7)).otherwise(
        F.dayofweek("ts") - 1
    )
    d = e.groupBy(iso.alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("k"),
    )
    p = d.select(
        "dow", "n", "k",
        F.round(F.col("k") / F.col("n").cast("double"), 9)
        .cast("decimal(12,9)").alias("r"),
    ).localCheckpoint(eager=True)  # prior moments + rows both consume
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("r").cast("decimal(28,9)").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,18)").alias("srr"),
    )
    g = F.col("g")
    srd = F.col("sr").cast("double")
    pbar = srd / g
    s2 = (F.col("srr").cast("double") - srd * srd / g) / (g - F.lit(1.0))
    m0 = pbar * (1.0 - pbar) / s2 - 1.0
    prior = m.select(
        pbar.alias("pbar"), s2.alias("s2"), m0.alias("m0")
    )
    j = p.join(F.broadcast(prior))
    n, k = F.col("n"), F.col("k")
    return j.select(
        F.col("dow").cast("bigint").alias("dow"), "n", "k",
        F.round(k / n.cast("double"), 6).alias("raw_rate"),
        F.round(F.col("pbar") * F.col("m0"), 6).alias("prior_alpha"),
        F.round((1.0 - F.col("pbar")) * F.col("m0"), 6).alias("prior_beta"),
        F.round(
            (k + F.col("pbar") * F.col("m0")) / (n + F.col("m0")), 6
        ).alias("shrunk_rate"),
        F.round(F.col("m0") / (n + F.col("m0")), 6).alias("prior_weight"),
    ).orderBy("dow")


# -- q_dr_policy_eval --------------------------------------------------
#
# Doubly-robust off-policy evaluation — the modern OPE estimator that
# stays consistent if EITHER the outcome model OR the propensities
# are right: DR(x) = q̂(x, π(x)) + 1{a=π(x)}·w·(r − q̂(x,a))/n_eval,
# beside q_ips_policy_eval's plain IPS (same context = ISO
# day-of-week, arm = event type, reward = value, train/eval split,
# DECIMAL(14,12) propensities, weight clip 10). With the grid
# construction every piece reduces to exact decimal sums:
# DR = q̂ + w·(s_matched − n_matched·q̂)/n_eval per context, one
# identical double chain at the end. Scale: two split-pushdown scans
# → |dow × arms| grid algebra.

DR_SQL = f"""
WITH ev AS (
  SELECT isodow(CAST(ts AS DATE)) AS dow, event_type AS arm,
         CAST(value AS DECIMAL(18,2)) AS r,
         CASE WHEN CAST(ts AS DATE) < DATE '{IPS_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events
), tr AS (
  SELECT dow, arm,
         CAST(COUNT(*) AS BIGINT) AS n_ta,
         CAST(SUM(r) AS DECIMAL(28,2)) AS s_ta
  FROM ev WHERE is_train = 1 GROUP BY 1, 2
), trx AS (
  SELECT dow, CAST(SUM(n_ta) AS BIGINT) AS n_tx FROM tr GROUP BY 1
), pol AS (
  SELECT dow, arm AS target_arm,
         CAST(round(n_ta / CAST(n_tx AS DOUBLE), 12) AS DECIMAL(14,12))
           AS propensity,
         CAST(s_ta AS DOUBLE) / n_ta AS q_hat
  FROM (
    SELECT tr.dow, arm, n_ta, s_ta, n_tx,
           ROW_NUMBER() OVER (
             PARTITION BY tr.dow
             ORDER BY CAST(s_ta AS DOUBLE) / n_ta DESC, arm) AS rk
    FROM tr JOIN trx ON trx.dow = tr.dow
  ) WHERE rk = 1
), evx AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_eval FROM ev
  WHERE is_train = 0 GROUP BY 1
), mt AS (
  SELECT e.dow,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(e.r) AS DECIMAL(28,2)) AS s_matched
  FROM ev e JOIN pol ON pol.dow = e.dow AND pol.target_arm = e.arm
  WHERE e.is_train = 0 GROUP BY 1
)
SELECT CAST(pol.dow AS BIGINT) AS dow, pol.target_arm,
       round(pol.q_hat, 6) AS q_hat,
       round(CAST(s_matched AS DOUBLE) / n_matched, 6) AS dm_value,
       round(CAST(s_matched AS DOUBLE)
             * LEAST(1.0 / CAST(propensity AS DOUBLE), 10.0)
             / n_eval, 6) AS ips_value,
       round(pol.q_hat
             + LEAST(1.0 / CAST(propensity AS DOUBLE), 10.0)
               * (CAST(s_matched AS DOUBLE) - n_matched * pol.q_hat)
               / n_eval, 6) AS dr_value
FROM pol JOIN evx ON evx.dow = pol.dow
JOIN mt ON mt.dow = pol.dow
ORDER BY dow
"""


@query("q_dr_policy_eval", oracle=DR_SQL)
def q_dr_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    iso = F.when(F.dayofweek(F.col("d")) == 1, F.lit(7)).otherwise(
        F.dayofweek(F.col("d")) - 1
    )
    ev = e.select(
        F.to_date("ts").alias("d"),
        F.col("event_type").alias("arm"),
        F.col("value").cast("decimal(18,2)").alias("r"),
    ).select(
        iso.alias("dow"),
        "arm",
        "r",
        (F.col("d") < F.lit(IPS_SPLIT)).cast("int").alias("is_train"),
    )
    ev = ev.cache()  # feeds train grid, eval totals AND matched sums
    tr = (
        ev.filter(F.col("is_train") == 1)
        .groupBy("dow", "arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ta"),
            F.sum("r").cast("decimal(28,2)").alias("s_ta"),
        )
    )
    tr = tr.cache()
    trx = tr.groupBy("dow").agg(F.sum("n_ta").cast("bigint").alias("n_tx"))
    pol = (
        tr.join(trx, "dow")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("dow").orderBy(
                    (F.col("s_ta").cast("double") / F.col("n_ta")).desc(),
                    "arm",
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            "dow",
            F.col("arm").alias("target_arm"),
            F.round(F.col("n_ta") / F.col("n_tx").cast("double"), 12)
            .cast("decimal(14,12)")
            .alias("propensity"),
            (F.col("s_ta").cast("double") / F.col("n_ta")).alias("q_hat"),
        )
    )
    evx = (
        ev.filter(F.col("is_train") == 0)
        .groupBy("dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval"))
    )
    mt = (
        ev.filter(F.col("is_train") == 0)
        .join(
            F.broadcast(
                pol.select(
                    F.col("dow").alias("pdow"),
                    F.col("target_arm").alias("parm"),
                )
            ),
            (F.col("dow") == F.col("pdow"))
            & (F.col("arm") == F.col("parm")),
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum("r").cast("decimal(28,2)").alias("s_matched"),
        )
    )
    w = F.least(
        1.0 / F.col("propensity").cast("double"), F.lit(10.0)
    )
    sm = F.col("s_matched").cast("double")
    return (
        pol.join(evx, "dow")
        .join(mt, "dow")
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            "target_arm",
            F.round("q_hat", 6).alias("q_hat"),
            F.round(sm / F.col("n_matched"), 6).alias("dm_value"),
            F.round(sm * w / F.col("n_eval"), 6).alias("ips_value"),
            F.round(
                F.col("q_hat")
                + w
                * (sm - F.col("n_matched") * F.col("q_hat"))
                / F.col("n_eval"),
                6,
            ).alias("dr_value"),
        )
        .orderBy("dow")
    )


# -- q_km_greenwood ----------------------------------------------------
#
# Kaplan-Meier curve with Greenwood 95% log-log confidence bands —
# the uncertainty q_survival_km's point curve omits (bands are what
# make a retention curve decision-grade): Var(Ŝ)/Ŝ² = Σ d/(n(n−d))
# accumulates as a 12-rounded DECIMAL(18,12) fold alongside the ln
# survival fold, and the log-log transform exp(±1.96·σ/ln Ŝ)
# guarantees bands inside (0,1). Same observation construction and
# at-risk prefix windows as q_survival_km; survival rounds to 6
# before the band algebra reuses it. Output: the event-time grid
# rows with S, lo, hi. Scale: one o_custkey window pass → |distinct
# t| grid.

KM_GREENWOOD_SQL = """
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
  SELECT CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
              ELSE date_diff('day', d1, de) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs CROSS JOIN endd
), n_tot AS (SELECT COUNT(*) AS nt FROM obs),
grid AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS c
  FROM obs GROUP BY 1
), r AS (
  SELECT t, d,
         nt - COALESCE(CAST(SUM(c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS n
  FROM grid CROSS JOIN n_tot
), s AS (
  SELECT t, d, n,
         round(exp(CAST(SUM(CASE WHEN d < n THEN
                CAST(ln((n - d) / CAST(n AS DOUBLE)) AS DECIMAL(18,9))
              END) OVER (ORDER BY t) AS DOUBLE)), 6) AS surv,
         CAST(SUM(CASE WHEN d < n THEN
                CAST(round(d / (CAST(n AS DOUBLE) * (n - d)), 12)
                     AS DECIMAL(18,12)) END)
              OVER (ORDER BY t) AS DOUBLE) AS gw
  FROM r WHERE d > 0
)
SELECT CAST(t AS BIGINT) AS t_days, CAST(n AS BIGINT) AS n_at_risk,
       d AS n_events, surv,
       round(pow(surv, exp(1.96 * sqrt(gw) / ln(surv))), 6) AS ci_lo,
       round(pow(surv, exp(-1.96 * sqrt(gw) / ln(surv))), 6) AS ci_hi
FROM s
WHERE surv > 0 AND surv < 1 AND gw > 0
ORDER BY t_days
"""


@query("q_km_greenwood", oracle=KM_GREENWOOD_SQL)
def q_km_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    obs = fs.join(F.broadcast(endd)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
        )
        .otherwise(F.datediff(F.col("de"), F.col("d1")))
        .alias("t"),
        F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    obs = obs.cache()
    n_tot = obs.agg(F.count(F.lit(1)).alias("nt"))
    grid = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    wpre = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = grid.join(F.broadcast(n_tot)).select(
        "t",
        "d",
        (
            F.col("nt")
            - F.coalesce(F.sum("c").over(wpre).cast("bigint"), F.lit(0))
        ).alias("n"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d, n = F.col("d"), F.col("n")
    surv = F.round(
        F.exp(
            F.sum(
                F.when(
                    d < n,
                    F.log((n - d) / n.cast("double")).cast(
                        "decimal(18,9)"
                    ),
                )
            )
            .over(wcum)
            .cast("double")
        ),
        6,
    )
    gw = (
        F.sum(
            F.when(
                d < n,
                F.round(d / (n.cast("double") * (n - d)), 12).cast(
                    "decimal(18,12)"
                ),
            )
        )
        .over(wcum)
        .cast("double")
    )
    s = r.filter(d > 0).select(
        "t", "d", "n", surv.alias("surv"), gw.alias("gw")
    )
    sv, g = F.col("surv"), F.col("gw")
    return (
        s.filter((sv > 0) & (sv < 1) & (g > 0))
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            n.cast("bigint").alias("n_at_risk"),
            d.alias("n_events"),
            "surv",
            F.round(
                F.pow(sv, F.exp(1.96 * F.sqrt(g) / F.log(sv))), 6
            ).alias("ci_lo"),
            F.round(
                F.pow(sv, F.exp(-1.96 * F.sqrt(g) / F.log(sv))), 6
            ).alias("ci_hi"),
        )
        .orderBy("t_days")
    )
