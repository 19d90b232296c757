"""Risk & operations inventory batch: max-drawdown report, Erlang-C
staffing table, and the Anderson-Darling normality audit.

Reference parity: the reference's fold/reduce-by-key surface computes
grouped running folds and closed-form per-group algebra; these entries
re-express three operations-analytics workhorses as window passes over
tiny per-group grids (SURVEY §2 stats/ops block). Determinism contract
as registry.py: exact decimal folds, identical double chains on both
engines, 6-rounded outputs, unique-key tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import phi
from redmap_spark.inventory.registry import query, spread
from redmap_spark.plans.prefix import two_phase_cumsum

# -- q_drawdown --------------------------------------------------------
#
# Maximum drawdown of daily revenue per event type: the classic
# risk-curve summary (running peak, deepest percentage decline, peak
# and trough dates). The events fact stream collapses to the
# |event_type × day| grid in ONE partial-aggregated scan; the running
# peak is a window max over EXACT DECIMAL(18,2) daily revenue, so the
# peak and the (peak − rev) gap are exact on both engines and the only
# double op is the final division. Trough ties break on earliest day;
# the peak day is the EARLIEST day attaining the trough's running peak
# (decimal-equality join against the ≤|types|-row trough table).
# Scale: grouped windows over the tiny daily grid, never the raw
# stream; the grid is MATERIALIZED/cached once for both consumers.

DRAWDOWN_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT event_type, day, rev,
         MAX(rev) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
), scored AS (
  SELECT event_type, day, rev, peak, n_days,
         CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE) AS ddp,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE) DESC,
                    day ASC) AS rn
  FROM dd
), trough AS (
  SELECT event_type, n_days, day AS trough_day, rev AS trough_rev,
         peak AS peak_rev, ddp
  FROM scored WHERE rn = 1
)
SELECT t.event_type, t.n_days,
       strftime(MIN(d.day), '%Y-%m-%d') AS peak_day,
       CAST(t.peak_rev AS DOUBLE) AS peak_value,
       strftime(t.trough_day, '%Y-%m-%d') AS trough_day,
       CAST(t.trough_rev AS DOUBLE) AS trough_value,
       round(t.ddp, 6) AS max_drawdown_pct
FROM trough t
JOIN daily d
  ON d.event_type = t.event_type
 AND d.rev = t.peak_rev AND d.day <= t.trough_day
GROUP BY t.event_type, t.n_days, t.peak_rev, t.trough_day, t.trough_rev,
         t.ddp
ORDER BY t.event_type
"""


@query("q_drawdown", oracle=DRAWDOWN_SQL)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    daily = daily.cache()  # tiny grid, consumed by trough scan + peak-day join
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "event_type",
        "day",
        "rev",
        F.max("rev").over(wrun).alias("peak"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n_days"),
    )
    ddp = (F.col("peak") - F.col("rev")).cast("double") / F.col("peak").cast(
        "double"
    )
    scored = dd.withColumn("ddp", ddp).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("ddp").desc(), F.col("day").asc()
            )
        ),
    )
    trough = scored.filter(F.col("rn") == 1).select(
        "event_type",
        "n_days",
        F.col("day").alias("trough_day"),
        F.col("rev").alias("trough_rev"),
        F.col("peak").alias("peak_rev"),
        "ddp",
    )
    return (
        trough.join(
            daily.select(
                F.col("event_type").alias("de"), F.col("day").alias("dday"),
                F.col("rev").alias("drev"),
            ),
            (F.col("de") == F.col("event_type"))
            & (F.col("drev") == F.col("peak_rev"))
            & (F.col("dday") <= F.col("trough_day")),
        )
        .groupBy(
            "event_type", "n_days", "peak_rev", "trough_day", "trough_rev",
            "ddp",
        )
        .agg(F.min("dday").alias("pk"))
        .select(
            "event_type",
            "n_days",
            F.date_format("pk", "yyyy-MM-dd").alias("peak_day"),
            F.col("peak_rev").cast("double").alias("peak_value"),
            F.date_format("trough_day", "yyyy-MM-dd").alias("trough_day"),
            F.col("trough_rev").cast("double").alias("trough_value"),
            F.round("ddp", 6).alias("max_drawdown_pct"),
        )
        .orderBy("event_type")
    )


# -- q_erlang_c --------------------------------------------------------
#
# Erlang-C staffing table per event type: arrival rate λ (events/hour
# over the observed day span), fixed service rate μ = 12/hour (5-min
# mean handle), offered load a = λ/μ, and for each candidate server
# count c = ⌈a⌉+1 … ⌈a⌉+5 the wait probability
# P_W = T_c / ((1−ρ)·S_{c−1} + T_c) with T_k = a^k/k!,
# S_{c−1} = Σ_{k<c} T_k, ρ = a/c, plus average speed of answer
# ASA = P_W/(cμ−λ) in minutes. The factorial terms come from ONE
# exploded k-grid per type: ln k! is a running window SUM of ln k
# (sequential, order-pinned), T_k = exp(k·ln a − ln k!), and the
# partial sums S are a 9-rounded DECIMAL(28,9) running fold over the
# same window — every reduction is ordered, so partition order cannot
# perturb either engine. Scale: one fact scan to the per-type rate
# row; the k-grid is ≤ ~40 rows per type.

ERLANG_SQL = """
WITH rate AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS DOUBLE)
           / ((date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) + 1) * 24.0) AS lam
  FROM events GROUP BY 1
), base AS (
  SELECT event_type, n_events, lam, lam / 12.0 AS a,
         CAST(ceil(lam / 12.0) AS BIGINT) AS c0
  FROM rate WHERE lam > 0
), kg AS (
  SELECT b.event_type, b.n_events, b.lam, b.a, b.c0, g.k
  FROM base b, LATERAL (
    SELECT UNNEST(generate_series(0, CAST(b.c0 + 5 AS BIGINT))) AS k) g
), terms AS (
  SELECT event_type, n_events, lam, a, c0, k,
         exp(k * ln(a)
             - SUM(ln(GREATEST(k, 1))) OVER (
                 PARTITION BY event_type ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS t_k
  FROM kg
), folded AS (
  SELECT event_type, n_events, lam, a, c0, k, t_k,
         CAST(COALESCE(SUM(CAST(round(t_k, 9) AS DECIMAL(28,9))) OVER (
                 PARTITION BY event_type ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(28,9))) AS DOUBLE) AS s_prev
  FROM terms
)
SELECT event_type, n_events,
       round(lam, 6) AS arrivals_per_hour,
       round(a, 6) AS offered_load,
       k AS servers,
       round(a / k, 6) AS occupancy,
       round(t_k / ((1.0 - a / k) * s_prev + t_k), 6) AS p_wait,
       round(t_k / ((1.0 - a / k) * s_prev + t_k)
             / (k * 12.0 - lam) * 60.0, 6) AS asa_minutes
FROM folded
WHERE k > c0 AND k <= c0 + 5
ORDER BY event_type, k
"""


@query("q_erlang_c", oracle=ERLANG_SQL)
def q_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    rate = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            F.count(F.lit(1)).cast("double")
            / (
                (
                    F.datediff(
                        F.max(F.to_date("ts")), F.min(F.to_date("ts"))
                    )
                    + 1
                )
                * 24.0
            )
        ).alias("lam"),
    )
    base = rate.filter(F.col("lam") > 0).select(
        "event_type",
        "n_events",
        "lam",
        (F.col("lam") / 12.0).alias("a"),
        F.ceil(F.col("lam") / 12.0).cast("bigint").alias("c0"),
    )
    kg = base.select(
        "event_type",
        "n_events",
        "lam",
        "a",
        "c0",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("c0") + 5)
        ).alias("k"),
    )
    wk = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = kg.withColumn(
        "t_k",
        F.exp(
            F.col("k") * F.log(F.col("a"))
            - F.sum(F.log(F.greatest(F.col("k"), F.lit(1)))).over(wk)
        ),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    folded = terms.withColumn(
        "s_prev",
        F.coalesce(
            F.sum(F.round("t_k", 9).cast("decimal(28,9)")).over(wprev),
            F.lit(0).cast("decimal(28,9)"),
        ).cast("double"),
    )
    a, k, t_k, s_prev, lam = (
        F.col("a"),
        F.col("k"),
        F.col("t_k"),
        F.col("s_prev"),
        F.col("lam"),
    )
    pw = t_k / ((1.0 - a / k) * s_prev + t_k)
    return (
        folded.filter((k > F.col("c0")) & (k <= F.col("c0") + 5))
        .select(
            "event_type",
            "n_events",
            F.round(lam, 6).alias("arrivals_per_hour"),
            F.round(a, 6).alias("offered_load"),
            k.alias("servers"),
            F.round(a / k, 6).alias("occupancy"),
            F.round(pw, 6).alias("p_wait"),
            F.round(pw / (k * 12.0 - lam) * 60.0, 6).alias("asa_minutes"),
        )
        .orderBy("event_type", "servers")
    )


# -- q_anderson_darling ------------------------------------------------
#
# Anderson-Darling normality audit of account balances per market
# segment: the EDF test most sensitive in the tails, computed in the
# single-pass reindexed form
#   A² = −n − (1/n)·Σ_i [(2i−1)·lnΦ(z_i) + (2n−2i+1)·lnΦ(−z_i)]
# (the j = n+1−i substitution folds both tail sums into ONE ordered
# scan — no reverse-rank self-join). Moments are exact: decimal-sum
# mean, cancellation-safe Σ(x−m)² with 6-rounded decimal terms; Φ is
# _normal.phi, clamped at 1e-300 before ln. Ranks order by (acctbal,
# custkey) so ties are pinned. Small-sample correction
# A*² = A²(1+0.75/n+2.25/n²) against the 5% critical value 0.787.
# Scale: two fact scans plus one grouped window sort — the standard
# distributed per-key order-stat shape.


AD_SQL = f"""
WITH m1 AS (
  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM customer GROUP BY 1
), m2 AS (
  SELECT c.c_mktsegment AS segment, m.n, m.mu,
         sqrt(CAST(SUM(CAST(round(
                (c.c_acctbal - m.mu) * (c.c_acctbal - m.mu), 6)
              AS DECIMAL(28,6))) AS DOUBLE) / (m.n - 1)) AS sd
  FROM customer c JOIN m1 m ON c.c_mktsegment = m.segment
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT c.c_mktsegment AS segment, m.n, m.mu, m.sd,
         (c.c_acctbal - m.mu) / m.sd AS z,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY c.c_acctbal, c.c_custkey) AS i
  FROM customer c JOIN m2 m ON c.c_mktsegment = m.segment
  WHERE m.sd > 0
), terms AS (
  SELECT segment, n, mu, sd,
         round((2 * i - 1) * ln(GREATEST({phi('z')}, 1e-300))
               + (2 * n - 2 * i + 1)
                 * ln(GREATEST({phi('-z')}, 1e-300)), 6) AS term
  FROM ranked
), a2 AS (
  SELECT segment, n, mu, sd,
         -CAST(n AS DOUBLE)
           - CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) / n AS a2
  FROM terms GROUP BY 1, 2, 3, 4
)
SELECT segment, n, round(mu, 2) AS mean_bal, round(sd, 6) AS std_bal,
       round(a2, 6) AS a2,
       round(a2 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_star,
       CAST(CASE WHEN a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.787
                 THEN 1 ELSE 0 END AS INT) AS reject_5pct
FROM a2
ORDER BY segment
"""


@query("q_anderson_darling", oracle=AD_SQL)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    m1 = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    j1 = c.join(
        F.broadcast(m1), c["c_mktsegment"] == m1["segment"]
    )
    m2 = (
        j1.groupBy("segment", "n", "mu")
        .agg(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("c_acctbal") - F.col("mu"))
                        * (F.col("c_acctbal") - F.col("mu")),
                        6,
                    ).cast("decimal(28,6)")
                ).cast("double")
                / (F.col("n") - 1)
            ).alias("sd")
        )
    )
    j2 = c.join(
        F.broadcast(m2), c["c_mktsegment"] == m2["segment"]
    ).filter(F.col("sd") > 0)
    ranked = j2.select(
        "segment",
        "n",
        "mu",
        "sd",
        ((F.col("c_acctbal") - F.col("mu")) / F.col("sd")).alias("z"),
        F.row_number()
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                "c_acctbal", "c_custkey"
            )
        )
        .alias("i"),
    )
    z, n, i = F.col("z"), F.col("n"), F.col("i")
    term = F.round(
        (2 * i - 1) * F.log(F.greatest(phi(z), F.lit(1e-300)))
        + (2 * n - 2 * i + 1)
        * F.log(F.greatest(phi(-z), F.lit(1e-300))),
        6,
    )
    a2 = (
        ranked.select("segment", "n", "mu", "sd", term.alias("term"))
        .groupBy("segment", "n", "mu", "sd")
        .agg(
            (
                -n.cast("double")
                - F.sum(F.col("term").cast("decimal(28,6)")).cast("double")
                / n
            ).alias("a2")
        )
    )
    corr = F.col("a2") * (1.0 + 0.75 / n + 2.25 / (n * n))
    return a2.select(
        "segment",
        "n",
        F.round("mu", 2).alias("mean_bal"),
        F.round("sd", 6).alias("std_bal"),
        F.round("a2", 6).alias("a2"),
        F.round(corr, 6).alias("a2_star"),
        F.when(corr > 0.787, 1).otherwise(0).cast("int").alias(
            "reject_5pct"
        ),
    ).orderBy("segment")


# -- q_croston ---------------------------------------------------------
#
# Croston intermittent-demand forecast for the 5 highest-volume SKU
# groups (p_brand/p_size): daily shipped quantity per group is a
# genuinely sparse series (~2% demand days at sf0.01), where naive
# EWMA understates
# demand — Croston 1972 smooths the non-zero demand SIZES z_t and the
# inter-demand INTERVALS p_t separately and forecasts z Hat/p Hat units
# per day; the Syntetos-Boylan approximation multiplies by (1−α/2).
# Both smoothers are the house finite-horizon α=1/2 EWMA (8 most
# recent demand events, pow(0.5, j) weights — exact powers of two),
# with 6-rounded decimal numerator folds. Scale: one lineitem⋈part
# scan to the |sku × demand-day| grid; windows run on that grid.

CROSTON_SQL = """
WITH dem AS MATERIALIZED (
  SELECT p_brand || '/' || CAST(p_size AS VARCHAR) AS sku,
         l_shipdate AS day,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS z
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), top5 AS (
  SELECT sku,
         CAST(SUM(z) AS DECIMAL(28,2)) AS total
  FROM dem GROUP BY 1
  ORDER BY total DESC, sku LIMIT 5
), g AS (
  SELECT d.sku, d.day, d.z,
         date_diff('day',
                   LAG(d.day) OVER (PARTITION BY d.sku
                                    ORDER BY d.day),
                   d.day) AS gap,
         ROW_NUMBER() OVER (PARTITION BY d.sku
                            ORDER BY d.day DESC) AS rd,
         CAST(COUNT(*) OVER (PARTITION BY d.sku) AS BIGINT)
           AS n_demand_days
  FROM dem d JOIN top5 t ON d.sku = t.sku
), ew AS (
  SELECT sku, n_demand_days,
         CAST(SUM(CAST(round(pow(0.5, rd - 1) * CAST(z AS DOUBLE), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS z_num,
         SUM(pow(0.5, rd - 1)) AS z_den,
         CAST(SUM(CASE WHEN gap IS NOT NULL THEN
                    CAST(round(pow(0.5, rd - 1) * gap, 6)
                         AS DECIMAL(28,6)) END) AS DOUBLE) AS p_num,
         SUM(CASE WHEN gap IS NOT NULL THEN pow(0.5, rd - 1) END) AS p_den
  FROM g WHERE rd <= 8
  GROUP BY 1, 2
)
SELECT sku, n_demand_days,
       round(z_num / z_den, 6) AS z_hat,
       round(p_num / p_den, 6) AS p_hat,
       round((z_num / z_den) / (p_num / p_den), 6) AS croston_rate,
       round(0.75 * (z_num / z_den) / (p_num / p_den), 6) AS sba_rate
FROM ew WHERE p_den > 0 AND p_num > 0
ORDER BY sku
"""


@query("q_croston", oracle=CROSTON_SQL)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    dem = (
        # spread(): the (sku, day) partial agg runs in the single-task
        # scan stage (r11; A/B in OPTIMIZATION_r11.md)
        spread(c.lineitem.select(
            "l_partkey", "l_shipdate", "l_quantity"
        ))
        .join(
            c.part.select("p_partkey", "p_brand", "p_size"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            F.concat_ws(
                "/", F.col("p_brand"), F.col("p_size").cast("string")
            ).alias("sku"),
            F.col("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("z")
        )
    )
    dem = dem.cache()  # grid feeds the top-5 ranking AND the smoother
    top5 = (
        dem.groupBy("sku")
        .agg(F.sum("z").cast("decimal(28,2)").alias("total"))
        .orderBy(F.desc("total"), "sku")
        .limit(5)
        .select("sku")
    )
    wasc = Window.partitionBy("sku").orderBy("day")
    wdesc = Window.partitionBy("sku").orderBy(F.desc("day"))
    g = dem.join(F.broadcast(top5), "sku").select(
        "sku",
        "day",
        "z",
        F.datediff(F.col("day"), F.lag("day").over(wasc)).alias("gap"),
        F.row_number().over(wdesc).alias("rd"),
        F.count(F.lit(1))
        .over(Window.partitionBy("sku"))
        .cast("bigint")
        .alias("n_demand_days"),
    )
    w = F.pow(F.lit(0.5), F.col("rd") - 1)
    ew = (
        g.filter(F.col("rd") <= 8)
        .groupBy("sku", "n_demand_days")
        .agg(
            F.sum(
                F.round(w * F.col("z").cast("double"), 6).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("z_num"),
            F.sum(w).alias("z_den"),
            F.sum(
                F.when(
                    F.col("gap").isNotNull(),
                    F.round(w * F.col("gap"), 6).cast("decimal(28,6)"),
                )
            )
            .cast("double")
            .alias("p_num"),
            F.sum(F.when(F.col("gap").isNotNull(), w)).alias("p_den"),
        )
    )
    rate = (F.col("z_num") / F.col("z_den")) / (
        F.col("p_num") / F.col("p_den")
    )
    return (
        ew.filter((F.col("p_den") > 0) & (F.col("p_num") > 0))
        .select(
            "sku",
            "n_demand_days",
            F.round(F.col("z_num") / F.col("z_den"), 6).alias("z_hat"),
            F.round(F.col("p_num") / F.col("p_den"), 6).alias("p_hat"),
            F.round(rate, 6).alias("croston_rate"),
            F.round(0.75 * rate, 6).alias("sba_rate"),
        )
        .orderBy("sku")
    )


# -- q_session_entry_exit ----------------------------------------------
#
# Entry/exit session report: gap-based sessions (the q_sessionize 6h
# break) summarized per ENTRY event type — session counts, bounce rate
# (single-event sessions), mean session length, and the share that
# EXITS on a purchase. Entry/exit rows come from two row_number
# windows over the same (user, session) sort, so ties are pinned by
# (ts, event_id); ratios are single double divisions over exact
# counts. Scale: one user-partitioned window pass → per-session rows
# → |entry types| grid. The landing-page analytics shape beside
# q_funnel / q_attribution.

ENTRY_EXIT_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              > 21600000000 THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM e
), r AS (
  SELECT user_id, sess, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess
                            ORDER BY ts, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess
                            ORDER BY ts DESC, event_id DESC) AS rz
  FROM s
), per_sess AS (
  SELECT user_id, sess,
         MAX(CASE WHEN ra = 1 THEN event_type END) AS entry,
         MAX(CASE WHEN rz = 1 THEN event_type END) AS exit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM r GROUP BY 1, 2
)
SELECT entry AS entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
       round(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
       round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS avg_events,
       round(SUM(CASE WHEN exit = 'purchase' THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS p_exit_purchase
FROM per_sess
GROUP BY 1
ORDER BY 1
"""


@query("q_session_entry_exit", oracle=ENTRY_EXIT_SQL)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    brk = F.when(us - F.lag(us).over(wo) > 21600000000, 1).otherwise(0)
    s = e.select(
        "user_id", "ts", "event_id", "event_type", brk.alias("brk")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("brk").over(wsum).alias("sess"),
    )
    wsa = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    wsz = Window.partitionBy("user_id", "sess").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = s.select(
        "user_id",
        "sess",
        "event_type",
        F.row_number().over(wsa).alias("ra"),
        F.row_number().over(wsz).alias("rz"),
    )
    per_sess = r.groupBy("user_id", "sess").agg(
        F.max(F.when(F.col("ra") == 1, F.col("event_type"))).alias("entry"),
        F.max(F.when(F.col("rz") == 1, F.col("event_type"))).alias("exit"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    n = F.col("n")
    return (
        per_sess.groupBy(F.col("entry").alias("entry_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(n == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("bounces"),
            F.round(
                F.sum(F.when(n == 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("bounce_rate"),
            F.round(
                F.sum(n).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_events"),
            F.round(
                F.sum(
                    F.when(F.col("exit") == "purchase", 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("p_exit_purchase"),
        )
        .orderBy("entry_type")
    )


# -- q_tail_dependence -------------------------------------------------
#
# Empirical tail-dependence coefficients between order value and the
# customer's account balance, per market segment: rank both margins
# into the empirical copula (row_number with o_orderkey tie-breaks —
# integer ranks, so no double-boundary ambiguity), then
# λ_U ≈ #{both in top k}/k and λ_L ≈ #{both in bottom k}/k with
# k = ⌊n/20⌋ (the 5% tail) — the co-crash/co-boom measure a
# correlation matrix misses (q_corr_matrix sees only linear middle-
# of-distribution association). Under independence both λ ≈ 0.05.
# Scale: two grouped rank windows over the joined fact + one count
# scan; output is the 5-row segment grid.

TAIL_DEP_SQL = """
WITH j AS (
  SELECT c_mktsegment AS segment, o_orderkey,
         o_totalprice AS x, c_acctbal AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
), ranked AS (
  SELECT segment,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY x, o_orderkey) AS rx,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY y, o_orderkey) AS ry,
         CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
  FROM j
), agg AS (
  SELECT segment, n, n // 20 AS k,
         CAST(SUM(CASE WHEN rx > n - n // 20 AND ry > n - n // 20
                       THEN 1 ELSE 0 END) AS BIGINT) AS joint_upper,
         CAST(SUM(CASE WHEN rx <= n // 20 AND ry <= n // 20
                       THEN 1 ELSE 0 END) AS BIGINT) AS joint_lower
  FROM ranked GROUP BY 1, 2, 3
)
SELECT segment, n, CAST(k AS BIGINT) AS k, joint_upper, joint_lower,
       round(joint_upper / CAST(k AS DOUBLE), 6) AS lambda_upper,
       round(joint_lower / CAST(k AS DOUBLE), 6) AS lambda_lower
FROM agg WHERE k > 0
ORDER BY segment
"""


@query("q_tail_dependence", oracle=TAIL_DEP_SQL)
def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    j = c.orders.join(
        c.customer.select("c_custkey", "c_mktsegment", "c_acctbal"),
        F.col("c_custkey") == F.col("o_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.col("o_totalprice").alias("x"),
        F.col("c_acctbal").alias("y"),
    )
    ranked = j.select(
        "segment",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("x", "o_orderkey"))
        .alias("rx"),
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("y", "o_orderkey"))
        .alias("ry"),
        F.count(F.lit(1))
        .over(Window.partitionBy("segment"))
        .cast("bigint")
        .alias("n"),
    )
    k = F.expr("n div 20")
    rx, ry, n = F.col("rx"), F.col("ry"), F.col("n")
    agg = ranked.groupBy("segment", "n").agg(
        F.sum(
            F.when((rx > n - F.expr("n div 20"))
                   & (ry > n - F.expr("n div 20")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("joint_upper"),
        F.sum(
            F.when(
                (rx <= F.expr("n div 20")) & (ry <= F.expr("n div 20")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("joint_lower"),
    ).withColumn("k", k)
    return (
        agg.filter(F.col("k") > 0)
        .select(
            "segment",
            "n",
            F.col("k").cast("bigint").alias("k"),
            "joint_upper",
            "joint_lower",
            F.round(
                F.col("joint_upper") / F.col("k").cast("double"), 6
            ).alias("lambda_upper"),
            F.round(
                F.col("joint_lower") / F.col("k").cast("double"), 6
            ).alias("lambda_lower"),
        )
        .orderBy("segment")
    )


# -- q_rsi -------------------------------------------------------------
#
# Cutler's RSI (14-day simple-mean relative strength index) on daily
# revenue per event type: trailing-window average gain vs average
# loss, RSI = 100 − 100/(1 + G/L) — the overbought/oversold momentum
# flag beside q_bollinger_flags' volatility bands. Cutler's
# simple-average variant (not Wilder's recursive smoothing) is chosen
# because the 14-row window sums of EXACT DECIMAL(18,2) day-over-day
# gains/losses make every RSI value exact-up-to-one-division on both
# engines — no recursion, no drift. Zero-loss windows pin RSI = 100.
# Output: per type, the latest-day RSI plus overbought/oversold day
# counts across the series. Scale: one fact scan to the daily grid,
# two ordered windows on that grid.

RSI_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
  FROM events GROUP BY 1, 2
), d AS (
  SELECT event_type, day, rev,
         CAST(rev - LAG(rev) OVER (PARTITION BY event_type ORDER BY day)
              AS DECIMAL(18,2)) AS chg
  FROM daily
), w AS (
  SELECT event_type, day,
         CAST(SUM(GREATEST(chg, CAST(0 AS DECIMAL(18,2)))) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
              AS DECIMAL(28,2)) AS g,
         CAST(SUM(GREATEST(-chg, CAST(0 AS DECIMAL(18,2)))) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
              AS DECIMAL(28,2)) AS l,
         COUNT(chg) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nw
  FROM d
), rsi AS (
  SELECT event_type, day,
         CASE WHEN l = 0 THEN 100.0
              ELSE round(100.0 - 100.0
                         / (1.0 + CAST(g AS DOUBLE) / CAST(l AS DOUBLE)),
                         6) END AS rsi,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day DESC) AS rd
  FROM w WHERE nw = 14
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       MAX(CASE WHEN rd = 1 THEN strftime(day, '%Y-%m-%d') END) AS last_day,
       MAX(CASE WHEN rd = 1 THEN rsi END) AS rsi_last,
       CAST(SUM(CASE WHEN rsi > 70.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overbought,
       CAST(SUM(CASE WHEN rsi < 30.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oversold
FROM rsi
GROUP BY 1
ORDER BY 1
"""


@query("q_rsi", oracle=RSI_SQL)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type",
        "day",
        (F.col("rev") - F.lag("rev").over(wo))
        .cast("decimal(18,2)")
        .alias("chg"),
    )
    w14 = wo.rowsBetween(-13, Window.currentRow)
    zero = F.lit(0).cast("decimal(18,2)")
    w = d.select(
        "event_type",
        "day",
        F.sum(F.greatest(F.col("chg"), zero))
        .over(w14)
        .cast("decimal(28,2)")
        .alias("g"),
        F.sum(F.greatest(-F.col("chg"), zero))
        .over(w14)
        .cast("decimal(28,2)")
        .alias("l"),
        F.count("chg").over(w14).alias("nw"),
    )
    rsi_val = F.when(F.col("l") == 0, F.lit(100.0)).otherwise(
        F.round(
            100.0
            - 100.0
            / (1.0 + F.col("g").cast("double") / F.col("l").cast("double")),
            6,
        )
    )
    rsi = (
        w.filter(F.col("nw") == 14)
        .select(
            "event_type",
            "day",
            rsi_val.alias("rsi"),
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy(F.desc("day")))
            .alias("rd"),
        )
    )
    return (
        rsi.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max(
                F.when(
                    F.col("rd") == 1, F.date_format("day", "yyyy-MM-dd")
                )
            ).alias("last_day"),
            F.max(F.when(F.col("rd") == 1, F.col("rsi"))).alias("rsi_last"),
            F.sum(F.when(F.col("rsi") > 70.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_overbought"),
            F.sum(F.when(F.col("rsi") < 30.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_oversold"),
        )
        .orderBy("event_type")
    )


# -- q_dtw_similarity --------------------------------------------------
#
# Banded dynamic-time-warping distances between the event types'
# z-normalized daily revenue curves — which demand streams share a
# SHAPE even when their peaks are time-shifted (q_rolling_corr and
# q_cross_correlation only see fixed-lag alignment; DTW warps time).
# DTW's O(n·band) DP is genuinely outside relational algebra, so this
# is the documented Arrow seam (operators/dtw.py): the fact stream
# collapses to the |type × day| grid and z-normalizes JVM-side
# (decimal folds, 6-rounded z), and only the ≤|days|-length arrays
# cross into one mapInPandas batch. Series length is bounded by the
# TIME WINDOW, not data volume — the 100 TB posture. No SQL oracle by
# nature (rows-only driver check); the DP is pinned by
# tests/test_dtw.py against hand-computed cases and invariants.

@query("q_dtw_similarity")  # DP over warping paths: not SQL-expressible
def q_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.dtw import dtw_pairs

    e = Catalog(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    daily = daily.cache()  # feeds the moment grid AND the z rows
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    m2 = (
        daily.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mu")
        .agg(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("rev").cast("double") - F.col("mu"))
                        * (F.col("rev").cast("double") - F.col("mu")),
                        6,
                    ).cast("decimal(28,6)")
                ).cast("double")
                / (F.col("n") - 1)
            ).alias("sd")
        )
    )
    z = (
        daily.join(F.broadcast(m2), "event_type")
        .filter(F.col("sd") > 0)
        .select(
            "event_type",
            "day",
            F.round(
                (F.col("rev").cast("double") - F.col("mu")) / F.col("sd"), 6
            ).alias("z"),
        )
    )
    return dtw_pairs(z, "event_type", "day", "z", band=7).orderBy(
        "key_a", "key_b"
    )


# -- q_xyz_class -------------------------------------------------------
#
# ABC-XYZ inventory classification matrix over brand/size SKU groups
# (the q_croston key): ABC from cumulative revenue share (A ≤ 80%,
# B ≤ 95%, C rest — the q_abc_analysis thresholds applied at SKU
# grain) crossed with XYZ demand-variability classes from the CV of
# WEEKLY demand (X < 0.5 steady, Y < 1.0 variable, Z erratic) — the
# planning matrix that routes X-A items to automated replenishment
# and Z-C items to make-to-order. Exact decimal weekly sums; CV via
# the mean-join two-pass form; cumulative shares use a window over
# exact decimal revenue with SKU tie-breaks. Output: the ≤9-cell
# class matrix with counts and revenue share. Scale: one
# lineitem⋈part scan → |sku × week| grid → |sku| grid → 9 cells.

XYZ_SQL = """
WITH sku_week AS MATERIALIZED (
  SELECT p_brand || '/' || CAST(p_size AS VARCHAR) AS sku,
         date_trunc('week', l_shipdate) AS wk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), m1 AS (
  SELECT sku, CAST(COUNT(*) AS BIGINT) AS nw,
         CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(rev) AS DECIMAL(28,2)) AS skurev
  FROM sku_week GROUP BY 1
), cv AS (
  SELECT w.sku, m.nw, m.skurev,
         CASE WHEN m.nw > 1 AND m.mu > 0 THEN
           sqrt(CAST(SUM(CAST(round(
                  (CAST(w.qty AS DOUBLE) - m.mu)
                  * (CAST(w.qty AS DOUBLE) - m.mu), 6)
                AS DECIMAL(28,6))) AS DOUBLE) / (m.nw - 1)) / m.mu
         END AS cv
  FROM sku_week w JOIN m1 m ON w.sku = m.sku
  GROUP BY 1, 2, 3, m.mu
), shares AS (
  SELECT sku, nw, cv, skurev,
         SUM(skurev) OVER (ORDER BY skurev DESC, sku
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cumrev,
         SUM(skurev) OVER () AS totrev
  FROM cv WHERE cv IS NOT NULL
), classed AS (
  SELECT sku, skurev,
         CASE WHEN CAST(cumrev AS DOUBLE) / CAST(totrev AS DOUBLE) <= 0.80
              THEN 'A'
              WHEN CAST(cumrev AS DOUBLE) / CAST(totrev AS DOUBLE) <= 0.95
              THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN cv < 0.5 THEN 'X'
              WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz,
         totrev
  FROM shares
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_skus,
       round(CAST(SUM(skurev) AS DOUBLE) / CAST(MIN(totrev) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q_xyz_class", oracle=XYZ_SQL)
def q_xyz_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    # spread() heal (r9): the broadcast dim join keeps the single-file
    # scan's width, so the per-row-heavy partial agg (decimal products
    # over 600k join rows at sf0.1) ran on 1-2 cores — 2.7 -> 1.6 s
    # min-of-3 on the grid build. No-op on a many-file cluster scan.
    sku_week = (
        spread(
            c.lineitem.join(
                c.part.select("p_partkey", "p_brand", "p_size"),
                F.col("p_partkey") == F.col("l_partkey"),
            )
        )
        .groupBy(
            F.concat_ws(
                "/", F.col("p_brand"), F.col("p_size").cast("string")
            ).alias("sku"),
            F.date_trunc("week", F.col("l_shipdate")).alias("wk"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .alias("rev"),
        )
    )
    # Single-shuffle CV (r11): mean + CV used to be two passes over a
    # cached grid (per-sku moment agg, SortMergeJoin back, second
    # groupBy). The weekly qty vector per sku is BOUNDED (≤ weeks in
    # the data, never data-sized), so one groupBy(sku) collects it and
    # the round-then-exact-decimal variance folds in-row: each term is
    # the same round((q − mu)², 6) decimal(28,6), and exact decimal
    # addition is order-independent, so cv is bit-identical. Grid
    # cache, SMJ and one shuffle all drop. A/B min-of-4 at sf0.1:
    # 2.30 -> 0.85 s, hash unchanged.
    g = sku_week.groupBy("sku").agg(
        F.count(F.lit(1)).cast("bigint").alias("nw"),
        (F.sum("qty").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sum("rev").cast("decimal(28,2)").alias("skurev"),
        F.collect_list(F.col("qty").cast("double")).alias("qs"),
    )
    ss = F.expr(
        "cast(aggregate(qs, cast(0 as decimal(28,6)), (acc, q) -> "
        "cast(acc + cast(round((q - mu) * (q - mu), 6) as decimal(28,6)) "
        "as decimal(28,6))) as double)"
    )
    cv = g.select(
        "sku", "nw", "skurev",
        F.when(
            (F.col("nw") > 1) & (F.col("mu") > 0),
            F.sqrt(ss / (F.col("nw") - 1)) / F.col("mu"),
        ).alias("cv"),
    )
    wcum = Window.orderBy(F.desc("skurev"), "sku").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    shares = cv.filter(F.col("cv").isNotNull()).select(
        "sku",
        "cv",
        "skurev",
        F.sum("skurev").over(wcum).alias("cumrev"),
        F.sum("skurev").over(Window.partitionBy()).alias("totrev"),
    )
    share = F.col("cumrev").cast("double") / F.col("totrev").cast("double")
    classed = shares.select(
        "sku",
        "skurev",
        "totrev",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise(
            "C"
        ).alias("abc"),
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_skus"),
            F.round(
                F.sum("skurev").cast("double")
                / F.min("totrev").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )


# -- q_eoq_policy ------------------------------------------------------
#
# Economic-order-quantity policy table per brand: EOQ = √(2DK/h) with
# order cost K = 100 and holding cost h = 20% of the brand's mean
# unit price per year, reorder point ROP = d̄·LT + 1.645·σ_d·√LT at a
# 7-day lead time (95% cycle service, house z constant) — the
# continuous-review (Q, r) policy beside q_newsvendor's single-period
# quantile stocking and q_croston's intermittent forecast. Demand
# moments come from the dense per-brand daily grid (exact decimal
# sums, two-pass cancellation-safe σ); every output is closed-form
# grid algebra. Scale: one lineitem⋈part scan → |brand × day| grid →
# |brand| rows.

EOQ_SQL = """
WITH daily AS MATERIALIZED (
  SELECT p_brand AS brand, l_shipdate AS day,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), m1 AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(qty) AS DOUBLE) AS tot_qty,
         CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS dbar,
         CAST(SUM(rev) AS DOUBLE) / CAST(SUM(qty) AS DOUBLE) AS unit_price,
         (CAST(SUM(rev) * 10000 AS BIGINT) * 100)
           // CAST(SUM(qty) * 100 AS BIGINT) AS unit_micro
  FROM daily GROUP BY 1 HAVING SUM(qty) > 0
), m2 AS (
  SELECT d.brand, m.nd, m.tot_qty, m.dbar, m.unit_price, m.unit_micro,
         sqrt(CAST(SUM(CAST(round(
                (CAST(d.qty AS DOUBLE) - m.dbar)
                * (CAST(d.qty AS DOUBLE) - m.dbar), 6)
              AS DECIMAL(28,6))) AS DOUBLE) / (m.nd - 1)) AS sigma_d
  FROM daily d JOIN m1 m ON d.brand = m.brand
  WHERE m.nd > 1
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT brand, nd AS n_days,
       round(tot_qty * 365.0 / nd, 2) AS annual_demand,
       round(unit_micro / 1000000.0, 6) AS unit_price,
       round(sqrt(2.0 * (tot_qty * 365.0 / nd) * 100.0
                  / (0.2 * unit_price)), 6) AS eoq,
       round((tot_qty * 365.0 / nd)
             / sqrt(2.0 * (tot_qty * 365.0 / nd) * 100.0
                    / (0.2 * unit_price)), 6) AS orders_per_year,
       round(dbar * 7.0 + 1.645 * sigma_d * sqrt(7.0), 6)
         AS reorder_point,
       round(1.645 * sigma_d * sqrt(7.0), 6) AS safety_stock
FROM m2
WHERE unit_price > 0
ORDER BY brand
"""


@query("q_eoq_policy", oracle=EOQ_SQL)
def q_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    daily = (
        # spread(): the (brand, day) partial agg with two decimal sums
        # runs in the single-task scan stage (r11; A/B in OPTIMIZATION_r11.md)
        spread(c.lineitem.select(
            "l_partkey", "l_shipdate", "l_quantity",
            "l_extendedprice", "l_discount",
        ))
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .alias("rev"),
        )
    )
    daily = daily.cache()  # grid feeds the mean pass AND the sigma pass
    m1 = (
        daily.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nd"),
            F.sum("qty").cast("double").alias("tot_qty"),
            (F.sum("qty").cast("double") / F.count(F.lit(1))).alias(
                "dbar"
            ),
            (
                F.sum("rev").cast("double") / F.sum("qty").cast("double")
            ).alias("unit_price"),
            F.expr(
                "(CAST(sum(rev) * 10000 AS BIGINT) * 100)"
                " div CAST(sum(qty) * 100 AS BIGINT)"
            ).alias("unit_micro"),
        )
        .filter(F.col("tot_qty") > 0)
    )
    qd = F.col("qty").cast("double")
    m2 = (
        daily.join(F.broadcast(m1.filter(F.col("nd") > 1)), "brand")
        .groupBy("brand", "nd", "tot_qty", "dbar", "unit_price",
                 "unit_micro")
        .agg(
            F.sqrt(
                F.sum(
                    F.round(
                        (qd - F.col("dbar")) * (qd - F.col("dbar")), 6
                    ).cast("decimal(28,6)")
                ).cast("double")
                / (F.col("nd") - 1)
            ).alias("sigma_d")
        )
    )
    nd, tot, up = F.col("nd"), F.col("tot_qty"), F.col("unit_price")
    dbar, sig = F.col("dbar"), F.col("sigma_d")
    annual = tot * 365.0 / nd
    eoq = F.sqrt(2.0 * annual * 100.0 / (0.2 * up))
    return (
        m2.filter(up > 0)
        .select(
            "brand",
            nd.alias("n_days"),
            F.round(annual, 2).alias("annual_demand"),
            F.round(F.col("unit_micro") / 1000000.0, 6).alias(
                "unit_price"
            ),
            F.round(eoq, 6).alias("eoq"),
            F.round(annual / eoq, 6).alias("orders_per_year"),
            F.round(dbar * 7.0 + 1.645 * sig * F.sqrt(F.lit(7.0)), 6)
            .alias("reorder_point"),
            F.round(1.645 * sig * F.sqrt(F.lit(7.0)), 6).alias(
                "safety_stock"
            ),
        )
        .orderBy("brand")
    )


# -- q_knapsack_budget -------------------------------------------------
#
# Fractional-knapsack budget allocation: given a procurement budget
# of 10% of the catalog's total retail cost, which parts (ranked by
# revenue-per-cost density) fit, and how much revenue do they
# capture? The greedy density order is OPTIMAL for the fractional
# relaxation, so this is an exact LP solution, not a heuristic. All
# money is BIGINT CENTS (costs, budget, cumulative sums) and the
# boundary item's fraction is an integer micro-unit division — the
# q_optimal_reserve portability discipline: round(double) never
# touches a fold or comparison. Density ordering is a double ratio
# of exact integers with partkey tie-breaks. Scale: one lineitem
# scan → |part| grid → one ordered window → 1 summary row.

KNAPSACK_SQL = """
WITH items AS (
  SELECT l.l_partkey AS pk,
         CAST(round(ANY_VALUE(p.p_retailprice) * 100.0, 0) AS BIGINT)
           AS cost_c,
         SUM(CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100.0, 0) AS BIGINT)))
           // 100 AS val_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
  HAVING CAST(round(ANY_VALUE(p.p_retailprice) * 100.0, 0) AS BIGINT) > 0
), budget AS (
  SELECT CAST(SUM(cost_c) AS BIGINT) // 10 AS b FROM items
), ordered AS (
  SELECT pk, cost_c, val_c,
         SUM(cost_c) OVER (ORDER BY val_c * 1.0 / cost_c DESC, pk
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
  FROM items
), flagged AS (
  SELECT o.pk, o.cost_c, o.val_c, o.cum, b.b,
         CASE WHEN o.cum <= b.b THEN 1 ELSE 0 END AS full_take,
         CASE WHEN o.cum > b.b AND o.cum - o.cost_c < b.b THEN 1
              ELSE 0 END AS boundary
  FROM ordered o CROSS JOIN budget b
)
SELECT round(CAST(MIN(b) AS BIGINT) / 100.0, 2) AS budget,
       CAST(SUM(full_take) AS BIGINT) AS n_items_full,
       CAST(SUM(CASE WHEN full_take = 1 THEN val_c ELSE 0 END) AS BIGINT)
         / 100.0 AS value_full,
       CAST(MAX(CASE WHEN boundary = 1 THEN pk END) AS BIGINT)
         AS boundary_part,
       CAST(SUM(CASE WHEN boundary = 1 THEN
              (val_c * ((b - (cum - cost_c)) * 1000000 // cost_c))
              // 10000 END) AS BIGINT) / 100.0 AS value_boundary,
       round(CAST(SUM(CASE WHEN boundary = 1 THEN
              (b - (cum - cost_c)) * 1000000 // cost_c END) AS BIGINT)
             / 1000000.0, 6) AS boundary_fraction
FROM flagged
"""


@query("q_knapsack_budget", oracle=KNAPSACK_SQL)
def q_knapsack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
    dpct = F.round(F.col("l_discount") * 100.0, 0).cast("bigint")
    items = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_retailprice")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.round(F.first("p_retailprice") * 100.0, 0)
            .cast("bigint")
            .alias("cost_c"),
            F.expr(
                "sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)"
                " * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))"
                " div 100"
            ).alias("val_c"),
        )
        .filter(F.col("cost_c") > 0)
    )
    items = items.cache()  # feeds the budget total AND the ordered walk
    budget = items.agg(
        F.expr("CAST(sum(cost_c) AS BIGINT) div 10").alias("b")
    )
    # |parts| scales with the data (20k rows crossed the old global
    # running-sum singleton at sf0.1): TWO-PHASE global cumsum over
    # -floor(density) buckets aligned with the value-density DESC
    # greedy order (density = per-part revenue / unit retail cost is
    # domain-bounded by order multiplicity, not data size).
    density = F.col("val_c") * 1.0 / F.col("cost_c")
    ordered = two_phase_cumsum(
        items.withColumn("__dens", density),
        [F.col("__dens").desc(), "pk"],
        F.col("cost_c"),
        (-F.floor(F.col("__dens"))).cast("bigint"),
        out="cum",
    ).select("pk", "cost_c", "val_c", "cum")
    flagged = ordered.join(F.broadcast(budget)).select(
        "pk",
        "cost_c",
        "val_c",
        "cum",
        "b",
        F.when(F.col("cum") <= F.col("b"), 1).otherwise(0).alias(
            "full_take"
        ),
        F.when(
            (F.col("cum") > F.col("b"))
            & (F.col("cum") - F.col("cost_c") < F.col("b")),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    return flagged.agg(
        F.round(F.min("b").cast("bigint") / 100.0, 2).alias("budget"),
        F.sum("full_take").cast("bigint").alias("n_items_full"),
        (
            F.sum(
                F.when(F.col("full_take") == 1, F.col("val_c")).otherwise(
                    0
                )
            ).cast("bigint")
            / 100.0
        ).alias("value_full"),
        F.max(F.when(F.col("boundary") == 1, F.col("pk")))
        .cast("bigint")
        .alias("boundary_part"),
        (
            F.sum(
                F.when(
                    F.col("boundary") == 1,
                    F.expr(
                        "(val_c * (((b - (cum - cost_c)) * 1000000)"
                        " div cost_c)) div 10000"
                    ),
                )
            ).cast("bigint")
            / 100.0
        ).alias("value_boundary"),
        F.round(
            F.sum(
                F.when(
                    F.col("boundary") == 1,
                    F.expr(
                        "((b - (cum - cost_c)) * 1000000) div cost_c"
                    ),
                )
            ).cast("bigint")
            / 1000000.0,
            6,
        ).alias("boundary_fraction"),
    )


# -- q_hill_diversity --------------------------------------------------
#
# Hill-number diversity profile of the product mix per market segment
# (ecology's unified diversity framework applied to assortment):
# q=0 richness (distinct parts bought), q=1 exp(Shannon H) — the
# "effective number of equally-selling parts", q=2 inverse-Simpson
# 1/Σs² (q_hhi's reciprocal lens). One revenue-share grid per
# segment; −s·ln s and s² terms fold as 9-rounded decimals; shares
# come from exact decimal revenue sums with ONE double division per
# part. The three orders together say whether a segment's revenue is
# broad or hit-driven. Scale: one lineitem⋈orders⋈customer scan →
# |segment × part| grid → 5 rows.

HILL_SQL = """
WITH pr AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, l.l_partkey AS pk,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), seg AS (
  SELECT segment, CAST(SUM(rev) AS DOUBLE) AS tot FROM pr GROUP BY 1
), terms AS (
  SELECT p.segment,
         CAST(p.rev AS DOUBLE) / s.tot AS sh
  FROM pr p JOIN seg s ON p.segment = s.segment
  WHERE s.tot > 0 AND p.rev > 0
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS hill0_richness,
       round(exp(-CAST(SUM(CAST(round(sh * ln(sh), 9)
                        AS DECIMAL(18,9))) AS DOUBLE)), 6)
         AS hill1_shannon,
       round(1.0 / CAST(SUM(CAST(round(sh * sh, 9)
                        AS DECIMAL(18,9))) AS DOUBLE), 6)
         AS hill2_simpson
FROM terms
GROUP BY 1
ORDER BY 1
"""


@query("q_hill_diversity", oracle=HILL_SQL)
def q_hill_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    pr = (
        # spread(): the (segment, part) partial agg runs in the
        # single-task scan stage (r11; A/B in OPTIMIZATION_r11.md)
        spread(c.lineitem.select(
            "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
        ))
        .join(
            c.orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("l_partkey").alias("pk"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .alias("rev")
        )
    )
    pr = pr.cache()  # share grid feeds segment totals AND the terms
    seg = pr.groupBy("segment").agg(
        F.sum("rev").cast("double").alias("tot")
    )
    terms = (
        pr.join(F.broadcast(seg), "segment")
        .filter((F.col("tot") > 0) & (F.col("rev") > 0))
        .select(
            "segment",
            (F.col("rev").cast("double") / F.col("tot")).alias("sh"),
        )
    )
    sh = F.col("sh")
    return (
        terms.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hill0_richness"),
            F.round(
                F.exp(
                    -F.sum(
                        F.round(sh * F.log(sh), 9).cast("decimal(18,9)")
                    ).cast("double")
                ),
                6,
            ).alias("hill1_shannon"),
            F.round(
                1.0
                / F.sum(F.round(sh * sh, 9).cast("decimal(18,9)")).cast(
                    "double"
                ),
                6,
            ).alias("hill2_simpson"),
        )
        .orderBy("segment")
    )


# -- q_share_of_wallet -------------------------------------------------
#
# Brand loyalty via share-of-wallet: each customer's top-brand share
# of their own spend, summarized per segment (mean share and the
# exact median via pinned integer ranks) plus the share of customers
# who are single-brand — the loyalty distribution behind q_item_cf's
# recommendations and q_retention_cohorts' activity view. Top-brand
# pick ties on brand name; mean folds 6-rounded decimals; the median
# is the value at rank ⌈n/2⌉ (odd-style pick — deterministic, no
# midpoint averaging). Scale: one fact scan → |customer × brand|
# grid → |customer| rows → 5 rows.

WALLET_SQL = """
WITH cb AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey AS cust,
         p.p_brand AS brand,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2, 3
), per_cust AS MATERIALIZED (
  SELECT segment, cust,
         CAST(COUNT(*) AS BIGINT) AS n_brands,
         CAST(MAX(rev) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE) AS sow
  FROM cb GROUP BY 1, 2
  HAVING SUM(rev) > 0
), ranked AS (
  SELECT segment, n_brands, sow,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY sow, cust) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
  FROM per_cust
)
SELECT segment, MAX(n) AS n_customers,
       round(CAST(SUM(CAST(round(sow, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / MAX(n), 6) AS mean_sow,
       round(MAX(CASE WHEN rn = (n + 1) // 2 THEN sow END), 6)
         AS median_sow,
       round(SUM(CASE WHEN n_brands = 1 THEN 1 ELSE 0 END)
             / CAST(MAX(n) AS DOUBLE), 6) AS single_brand_share
FROM ranked
GROUP BY 1
ORDER BY 1
"""


@query("q_share_of_wallet", oracle=WALLET_SQL)
def q_share_of_wallet(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cb = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        # ONE exchange for both grouping levels (r11, the q_als_rank1
        # trick): hash-partitioning on custkey alone satisfies the
        # ClusteredDistribution of BOTH the (segment, cust, brand)
        # grid and the (segment, cust) rollup (cust functionally
        # determines segment), so the two aggregations below share
        # this single shuffle instead of exchanging twice.
        .repartition(F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .alias("rev")
        )
    )
    per_cust = (
        cb.groupBy("segment", "cust")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            (
                F.max("rev").cast("double") / F.sum("rev").cast("double")
            ).alias("sow"),
            F.sum("rev").alias("revsum"),
        )
        .filter(F.col("revsum") > 0)
        .drop("revsum")
    )
    wseg = Window.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        "n_brands",
        "sow",
        F.row_number().over(wseg.orderBy("sow", "cust")).alias("rn"),
        F.count(F.lit(1)).over(wseg).cast("bigint").alias("n"),
    )
    n, rn, sow = F.col("n"), F.col("rn"), F.col("sow")
    return (
        ranked.groupBy("segment")
        .agg(
            F.max("n").alias("n_customers"),
            F.round(
                F.sum(F.round(sow, 6).cast("decimal(18,6)")).cast("double")
                / F.max("n"),
                6,
            ).alias("mean_sow"),
            F.round(
                F.max(F.when(rn == F.expr("(n + 1) div 2"), sow)), 6
            ).alias("median_sow"),
            F.round(
                F.sum(F.when(F.col("n_brands") == 1, 1).otherwise(0))
                / F.max("n").cast("double"),
                6,
            ).alias("single_brand_share"),
        )
        .orderBy("segment")
    )


# -- q_assortment_overlap ----------------------------------------------
#
# Assortment overlap between market segments: Jaccard similarity of
# the part sets each segment buys, for all 10 segment pairs — do
# segments shop the same catalog (shared merchandising) or disjoint
# niches (segment-specific buying)? NO pair join over parts: each
# part collapses to a 5-bit segment-presence profile in one grid
# pass, and every pairwise intersection count is a conditional
# aggregate over that profile; unions come from inclusion-exclusion
# on the per-segment distinct counts. Scale: one fact scan →
# |part| profile grid → 10 rows of integer algebra.

ASSORT_SQL = """
WITH pp AS MATERIALIZED (
  SELECT l.l_partkey AS pk,
         MAX(CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS s1,
         MAX(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS s2,
         MAX(CASE WHEN c.c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS s3,
         MAX(CASE WHEN c.c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS s4,
         MAX(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS s5
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
), m AS (
  SELECT CAST(SUM(s1) AS BIGINT) AS n1, CAST(SUM(s2) AS BIGINT) AS n2,
         CAST(SUM(s3) AS BIGINT) AS n3, CAST(SUM(s4) AS BIGINT) AS n4,
         CAST(SUM(s5) AS BIGINT) AS n5,
         CAST(SUM(s1 * s2) AS BIGINT) AS i12,
         CAST(SUM(s1 * s3) AS BIGINT) AS i13,
         CAST(SUM(s1 * s4) AS BIGINT) AS i14,
         CAST(SUM(s1 * s5) AS BIGINT) AS i15,
         CAST(SUM(s2 * s3) AS BIGINT) AS i23,
         CAST(SUM(s2 * s4) AS BIGINT) AS i24,
         CAST(SUM(s2 * s5) AS BIGINT) AS i25,
         CAST(SUM(s3 * s4) AS BIGINT) AS i34,
         CAST(SUM(s3 * s5) AS BIGINT) AS i35,
         CAST(SUM(s4 * s5) AS BIGINT) AS i45
  FROM pp
)
SELECT p.seg_a, p.seg_b, p.na AS n_parts_a, p.nb AS n_parts_b,
       p.inter AS n_shared,
       round(p.inter / CAST(p.na + p.nb - p.inter AS DOUBLE), 6)
         AS jaccard
FROM (
  SELECT 'AUTOMOBILE' AS seg_a, 'BUILDING' AS seg_b,
         n1 AS na, n2 AS nb, i12 AS inter FROM m
  UNION ALL SELECT 'AUTOMOBILE', 'FURNITURE', n1, n3, i13 FROM m
  UNION ALL SELECT 'AUTOMOBILE', 'HOUSEHOLD', n1, n4, i14 FROM m
  UNION ALL SELECT 'AUTOMOBILE', 'MACHINERY', n1, n5, i15 FROM m
  UNION ALL SELECT 'BUILDING', 'FURNITURE', n2, n3, i23 FROM m
  UNION ALL SELECT 'BUILDING', 'HOUSEHOLD', n2, n4, i24 FROM m
  UNION ALL SELECT 'BUILDING', 'MACHINERY', n2, n5, i25 FROM m
  UNION ALL SELECT 'FURNITURE', 'HOUSEHOLD', n3, n4, i34 FROM m
  UNION ALL SELECT 'FURNITURE', 'MACHINERY', n3, n5, i35 FROM m
  UNION ALL SELECT 'HOUSEHOLD', 'MACHINERY', n4, n5, i45 FROM m
) p
WHERE p.na + p.nb - p.inter > 0
ORDER BY p.seg_a, p.seg_b
"""

_ASSORT_SEGS = [
    ("s1", "AUTOMOBILE"), ("s2", "BUILDING"), ("s3", "FURNITURE"),
    ("s4", "HOUSEHOLD"), ("s5", "MACHINERY"),
]


@query("q_assortment_overlap", oracle=ASSORT_SQL)
def q_assortment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    base = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
    )
    pp = base.groupBy(F.col("l_partkey").alias("pk")).agg(
        *[
            F.max(
                F.when(F.col("c_mktsegment") == seg, 1).otherwise(0)
            ).alias(col)
            for col, seg in _ASSORT_SEGS
        ]
    )
    aggs = []
    for i, (ca, _sa) in enumerate(_ASSORT_SEGS):
        aggs.append(F.sum(ca).cast("bigint").alias(f"n{i + 1}"))
    for i, (ca, _sa) in enumerate(_ASSORT_SEGS):
        for j, (cb, _sb) in enumerate(_ASSORT_SEGS):
            if i < j:
                aggs.append(
                    F.sum(F.col(ca) * F.col(cb))
                    .cast("bigint")
                    .alias(f"i{i + 1}{j + 1}")
                )
    m = pp.agg(*aggs)
    m = m.cache()  # 1-row profile fold feeds all 10 pair branches
    rows = None
    for i, (_ca, sa) in enumerate(_ASSORT_SEGS):
        for j, (_cb, sb) in enumerate(_ASSORT_SEGS):
            if i < j:
                sel = m.select(
                    F.lit(sa).alias("seg_a"),
                    F.lit(sb).alias("seg_b"),
                    F.col(f"n{i + 1}").alias("na"),
                    F.col(f"n{j + 1}").alias("nb"),
                    F.col(f"i{i + 1}{j + 1}").alias("inter"),
                )
                rows = sel if rows is None else rows.unionAll(sel)
    union_sz = F.col("na") + F.col("nb") - F.col("inter")
    return (
        rows.filter(union_sz > 0)
        .select(
            "seg_a",
            "seg_b",
            F.col("na").alias("n_parts_a"),
            F.col("nb").alias("n_parts_b"),
            F.col("inter").alias("n_shared"),
            F.round(
                F.col("inter") / union_sz.cast("double"), 6
            ).alias("jaccard"),
        )
        .orderBy("seg_a", "seg_b")
    )


# -- q_weighted_median -------------------------------------------------
#
# Quantity-weighted price quartiles per brand: the robust "typical
# unit price" where each line counts by its VOLUME, not once (the
# weighted complement of q_percentiles' row-quantiles and
# q_mode_per_group's modal pick). Unit prices live in EXACT BIGINT
# MICRO-DOLLARS ((cents·(100−disc%)·10⁴) div qty-units — the
# portable-arithmetic discipline), weights are exact quantity
# centi-units, and each quartile is the FIRST price whose running
# weight reaches the corresponding share of total weight (4·cumw ≥
# q·totw in pure integers — no double boundary anywhere). Ties pin
# on (price, orderkey, linenumber). Scale: one lineitem⋈part scan →
# per-brand ordered walk (the grouped-order-stat shape).

WMEDIAN_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
         l.l_orderkey, l.l_linenumber,
         (CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT)
          * (100 - CAST(round(l.l_discount * 100.0, 0) AS BIGINT))
          * 10000)
         // CAST(round(l.l_quantity * 100.0, 0) AS BIGINT) AS pm,
         CAST(round(l.l_quantity * 100.0, 0) AS BIGINT) AS w
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0
), walk AS (
  SELECT brand, pm, w,
         SUM(w) OVER (PARTITION BY brand
                      ORDER BY pm, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw,
         SUM(w) OVER (PARTITION BY brand) AS totw,
         CAST(COUNT(*) OVER (PARTITION BY brand) AS BIGINT) AS n
  FROM li
)
SELECT brand, MAX(n) AS n_lines,
       round(CAST(MAX(totw) AS BIGINT) / 100.0, 2) AS total_qty,
       round(MIN(CASE WHEN 4 * cumw >= totw THEN pm END) / 1000000.0, 6)
         AS wp25,
       round(MIN(CASE WHEN 2 * cumw >= totw THEN pm END) / 1000000.0, 6)
         AS wmedian,
       round(MIN(CASE WHEN 4 * cumw >= 3 * totw THEN pm END) / 1000000.0,
             6) AS wp75
FROM walk
GROUP BY brand
ORDER BY brand
"""


@query("q_weighted_median", oracle=WMEDIAN_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
    dpct = F.round(F.col("l_discount") * 100.0, 0).cast("bigint")
    qw = F.round(F.col("l_quantity") * 100.0, 0).cast("bigint")
    li = (
        c.lineitem.filter(F.col("l_quantity") > 0)
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            "l_orderkey",
            "l_linenumber",
            (cents * (100 - dpct) * 10000).alias("pm0"),
            qw.alias("w"),
        )
        .select(
            "brand",
            "l_orderkey",
            "l_linenumber",
            F.expr("pm0 div w").alias("pm"),
            "w",
        )
    )
    wb = Window.partitionBy("brand")
    walk = li.select(
        "brand",
        "pm",
        "w",
        F.sum("w")
        .over(
            wb.orderBy("pm", "l_orderkey", "l_linenumber").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cumw"),
        F.sum("w").over(wb).alias("totw"),
        F.count(F.lit(1)).over(wb).cast("bigint").alias("n"),
    )
    cumw, totw = F.col("cumw"), F.col("totw")
    return (
        walk.groupBy("brand")
        .agg(
            F.max("n").alias("n_lines"),
            F.round(F.max("totw").cast("bigint") / 100.0, 2).alias(
                "total_qty"
            ),
            F.round(
                F.min(F.when(4 * cumw >= totw, F.col("pm"))) / 1000000.0,
                6,
            ).alias("wp25"),
            F.round(
                F.min(F.when(2 * cumw >= totw, F.col("pm"))) / 1000000.0,
                6,
            ).alias("wmedian"),
            F.round(
                F.min(F.when(4 * cumw >= 3 * totw, F.col("pm")))
                / 1000000.0,
                6,
            ).alias("wp75"),
        )
        .orderBy("brand")
    )
