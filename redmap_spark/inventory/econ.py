"""SURVEY §2 additions (round 6, ninth session) — econometrics and
marketing science: log-log price elasticity per brand, exact Shapley
channel attribution over the touchpoint subset lattice, and
Cronbach's alpha reliability of the day-of-week spend profile.

Shared determinism machinery (see registry docstring): log-domain
per-row terms round to DECIMAL(28,9) before any fold (ln() is libm-
dependent in the last ulp, so the round-then-fold discipline is what
keeps the cross-engine hash stable); the Shapley computation is
EXACT INTEGER throughout (24·φ is an integer because the 4-player
factorial weights 6/2/2/6 are integers and the characteristic
function is a conversion count), divided once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import inv_phi, phi
from redmap_spark.inventory.registry import query, spread
from redmap_spark.plans.prefix import two_phase_row_number

# -- q_elasticity ------------------------------------------------------
#
# Log-log price elasticity of demand per brand: slope of
# ln(quantity) on ln(discounted unit price) across a brand's line
# items — the multiplicative-model complement to q_regression's
# LINEAR quantity/price fit (elasticity is the % demand change per
# % price change; |e|>1 = elastic). Unit price varies per line via
# discount, which is the identifying variation. All log-domain
# moments fold per-row DECIMAL(28,9)-rounded terms; the slope /
# intercept / r² assembly is a single identical double chain.
# Scale: one broadcast-dim join, one partial-aggregated scan.

ELASTICITY_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
         ln(CAST(l_quantity AS DOUBLE)) AS y,
         ln(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)
            * (1.0 - CAST(l_discount AS DOUBLE))) AS x
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_discount < 1.0
), m AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS syy
  FROM li GROUP BY 1
)
SELECT brand, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
       round(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx / n,
             6) AS ln_intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
       CAST(CASE WHEN abs((n * sxy - sx * sy) / (n * sxx - sx * sx)) > 1.0
                 THEN 1 ELSE 0 END AS BIGINT) AS is_elastic
FROM m
WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
ORDER BY brand
"""


@query("q_elasticity", oracle=ELASTICITY_SQL)
def q_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    li = (
        cat.lineitem.join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(
            (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & (F.col("l_discount") < 1.0)
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity").cast("double")).alias("y"),
            F.log(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double")
                * (F.lit(1.0) - F.col("l_discount").cast("double"))
            ).alias("x"),
        )
    )
    # single-file scan: the 2-ln + five decimal-rounded folds per row
    # are the cost, not the scan — heal parallelism before the agg
    li = spread(li)

    def fold(expr, name):
        # DECIMAL(18,9): ln-scale terms are bounded (|t| <= ~400), and
        # precision <=18 keeps Spark on the compact long-backed decimal
        # (measured 5s -> ~2s at sf0.1 vs the (28,9) wide path)
        return (
            F.sum(F.round(expr, 9).cast("decimal(18,9)")).cast("double")
            .alias(name)
        )

    m = li.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(F.col("x"), "sx"), fold(F.col("y"), "sy"),
        fold(F.col("x") * F.col("y"), "sxy"),
        fold(F.col("x") * F.col("x"), "sxx"),
        fold(F.col("y") * F.col("y"), "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = cov / vx
    return (
        m.filter((vx != 0) & (vy != 0))
        .select(
            "brand", "n",
            F.round(slope, 6).alias("elasticity"),
            F.round(sy / n - slope * sx / n, 6).alias("ln_intercept"),
            F.round(cov * cov / (vx * vy), 6).alias("r2"),
            F.when(F.abs(slope) > 1.0, 1).otherwise(0).cast("bigint")
            .alias("is_elastic"),
        )
        .orderBy("brand")
    )


# -- q_shapley_attribution ---------------------------------------------
#
# Exact Shapley-value channel attribution (Shapley 1953; applied to
# marketing touchpoints à la Zhao et al. 2018): each user's journey
# is the SET of non-purchase channels touched (click/error/signup/
# view → a 4-bit signature), the characteristic function
# v(S) = conversions among users whose signature ⊆ S (a coalition
# "explains" the journeys it fully contains), and
# φ_i = Σ_{S∌i} |S|!(3−|S|)!/4! · (v(S∪i) − v(S)). With 4 players
# the weights ×24 are the integers 6/2/2/6 and v is an integer
# count, so 24·φ is EXACT INTEGER — both engines divide once at the
# end. The subset lattice is 16 masks; every join past the per-user
# scan is grid-sized. Efficiency: Σφ = v(full) − v(∅), reported as
# each channel's share. Scale: one partial-aggregated fact scan →
# 16-row lattice.

SHAPLEY_SQL = """
WITH peru AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END)
       + MAX(CASE WHEN event_type = 'error'  THEN 2 ELSE 0 END)
       + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
       + MAX(CASE WHEN event_type = 'view'   THEN 8 ELSE 0 END) AS sig,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), cexact AS (
  SELECT sig, CAST(SUM(conv) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS u
  FROM peru GROUP BY 1
), masks AS (
  SELECT CAST(m AS INT) AS s FROM range(16) t(m)
), vfun AS (
  SELECT mk.s, CAST(COALESCE(SUM(ce.c), 0) AS BIGINT) AS v
  FROM masks mk LEFT JOIN cexact ce ON (ce.sig & mk.s) = ce.sig
  GROUP BY 1
), chan AS (
  SELECT * FROM (VALUES ('click', 1), ('error', 2),
                        ('signup', 4), ('view', 8)) t(channel, b)
), pairs AS (
  SELECT ch.channel, ch.b,
         CASE ((vs.s >> 0) & 1) + ((vs.s >> 1) & 1)
            + ((vs.s >> 2) & 1) + ((vs.s >> 3) & 1)
           WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
           * (vu.v - vs.v) AS contrib24
  FROM chan ch
  JOIN vfun vs ON (vs.s & ch.b) = 0
  JOIN vfun vu ON vu.s = vs.s + ch.b
), phi AS (
  SELECT channel, b, CAST(SUM(contrib24) AS BIGINT) AS phi24
  FROM pairs GROUP BY 1, 2
), touch AS (
  SELECT ch.channel,
         CAST(SUM(ce.u) AS BIGINT) AS touched_users,
         CAST(SUM(ce.c) AS BIGINT) AS touched_convs
  FROM chan ch JOIN cexact ce ON (ce.sig & ch.b) <> 0
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(phi24) AS BIGINT) AS t24 FROM phi
)
SELECT p.channel,
       t.touched_users, t.touched_convs,
       round(p.phi24 / 24.0, 6) AS shapley,
       round(CASE WHEN tt.t24 <> 0
                  THEN CAST(p.phi24 AS DOUBLE) / tt.t24 END, 6) AS share
FROM phi p
JOIN touch t ON t.channel = p.channel
CROSS JOIN tot tt
ORDER BY p.channel
"""


@query("q_shapley_attribution", oracle=SHAPLEY_SQL)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events

    def touched(t: str, w: int):
        return F.max(
            F.when(F.col("event_type") == t, F.lit(w)).otherwise(0)
        )

    peru = e.groupBy("user_id").agg(
        (
            touched("click", 1) + touched("error", 2)
            + touched("signup", 4) + touched("view", 8)
        ).alias("sig"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cexact = peru.groupBy("sig").agg(
        F.sum("conv").cast("bigint").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("u"),
    )
    cexact = cexact.cache()  # consumed by vfun AND touch
    masks = spark.range(16).select(F.col("id").cast("int").alias("s"))
    # ⊆-lattice join: 16 masks × ≤16 signatures, broadcast BNLJ
    vfun = (
        masks.join(
            F.broadcast(cexact),
            cexact.sig.bitwiseAND(masks.s) == cexact.sig,
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("v"))
    )
    vfun = vfun.cache()  # consumed as both coalition sides
    chan = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, b int",
    )
    vs = vfun.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vu = vfun.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    pop = (
        F.shiftright(F.col("s0"), 0).bitwiseAND(F.lit(1))
        + F.shiftright(F.col("s0"), 1).bitwiseAND(F.lit(1))
        + F.shiftright(F.col("s0"), 2).bitwiseAND(F.lit(1))
        + F.shiftright(F.col("s0"), 3).bitwiseAND(F.lit(1))
    )
    w24 = (
        F.when(pop == 0, 6).when(pop == 1, 2).when(pop == 2, 2).otherwise(6)
    )
    pairs = (
        chan.join(
            F.broadcast(vs), vs.s0.bitwiseAND(chan.b) == F.lit(0)
        )
        .join(F.broadcast(vu), vu.s1 == vs.s0 + chan.b)
        .select(
            "channel", "b",
            (w24 * (F.col("v1") - F.col("v0"))).alias("contrib24"),
        )
    )
    phi = pairs.groupBy("channel", "b").agg(
        F.sum("contrib24").cast("bigint").alias("phi24")
    )
    phi = phi.cache()  # consumed by tot AND the final projection
    touch = (
        chan.join(
            F.broadcast(cexact), cexact.sig.bitwiseAND(chan.b) != F.lit(0)
        )
        .groupBy("channel")
        .agg(
            F.sum("u").cast("bigint").alias("touched_users"),
            F.sum("c").cast("bigint").alias("touched_convs"),
        )
    )
    tot = phi.agg(F.sum("phi24").cast("bigint").alias("t24"))
    return (
        phi.join(touch, "channel")
        .join(F.broadcast(tot))
        .select(
            "channel", "touched_users", "touched_convs",
            F.round(F.col("phi24") / 24.0, 6).alias("shapley"),
            F.round(
                F.when(
                    F.col("t24") != 0,
                    F.col("phi24").cast("double") / F.col("t24"),
                ),
                6,
            ).alias("share"),
        )
        .orderBy("channel")
    )


# -- q_cronbach_alpha --------------------------------------------------
#
# Cronbach's alpha internal-consistency reliability of the
# day-of-week spend profile: treating the 7 ISO weekdays as "items"
# and customers-with-orders as "subjects", is weekly spend a
# RELIABLE one-dimensional trait (big spenders spend big every day)
# or do the day columns move independently? α = k/(k−1)·(1 −
# Σσ²_item/σ²_total). Absent (customer, dow) cells are exact zeros
# handled ALGEBRAICALLY (sums over present cells, n = all subjects)
# — no grid materialization. All power sums are exact decimals;
# the 7-term Σσ²_item fold rounds to DECIMAL(28,6). Scale: one
# partial-aggregated scan → 7×|customers| cells → 7 rows.

CRONBACH_SQL = """
WITH cells AS (
  SELECT o_custkey AS cust, isodow(CAST(o_orderdate AS DATE)) AS dow,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS x
  FROM orders GROUP BY 1, 2
), gstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(x) AS DECIMAL(38,2)) AS sx_all,
         CAST(COUNT(DISTINCT cust) AS BIGINT) AS n
  FROM cells
), u AS (
  SELECT cust, dow,
         CAST(x AS DOUBLE) / (CAST(sx_all AS DOUBLE) / n_cells) AS u,
         x
  FROM cells CROSS JOIN gstat
), items AS (
  SELECT dow,
         CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
         CAST(SUM(CAST(round(u, 9) AS DECIMAL(28,9))) AS DOUBLE) AS su,
         CAST(SUM(CAST(round(u * u, 9) AS DECIMAL(28,9))) AS DOUBLE) AS suu
  FROM u GROUP BY 1
), k AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k FROM items
), totals AS (
  SELECT cust,
         CAST(CAST(SUM(CAST(round(u, 9) AS DECIMAL(28,9)))
                   AS DECIMAL(28,9)) AS DOUBLE) AS t
  FROM u GROUP BY 1
), tvar AS (
  SELECT CAST(SUM(CAST(round(t, 9) AS DECIMAL(38,9))) AS DOUBLE) AS st,
         CAST(SUM(CAST(round(t * t, 9) AS DECIMAL(38,9))) AS DOUBLE) AS stt
  FROM totals
), ivar AS (
  SELECT CAST(SUM(CAST(round(
           suu / n - (su / n) * (su / n), 9)
         AS DECIMAL(28,9))) AS DOUBLE) AS sum_item_var
  FROM items CROSS JOIN gstat
)
SELECT i.dow,
       round(CAST(i.sx AS DOUBLE) / s.n, 6) AS item_mean,
       round(sqrt(i.suu / s.n - (i.su / s.n) * (i.su / s.n))
             / (i.su / s.n), 6) AS item_cv,
       round(v.sum_item_var
             / (t.stt / s.n - (t.st / s.n) * (t.st / s.n)), 6) AS var_ratio,
       round(CAST(kk.k AS DOUBLE) / (kk.k - 1)
             * (1.0 - v.sum_item_var
                / (t.stt / s.n - (t.st / s.n) * (t.st / s.n))),
             6) AS cronbach_alpha
FROM items i CROSS JOIN gstat s CROSS JOIN k kk
CROSS JOIN tvar t CROSS JOIN ivar v
ORDER BY i.dow
"""


@query("q_cronbach_alpha", oracle=CRONBACH_SQL)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    iso = F.when(F.dayofweek("o_orderdate") == 1, F.lit(7)).otherwise(
        F.dayofweek("o_orderdate") - 1
    )
    cells = o.groupBy(
        F.col("o_custkey").alias("cust"), iso.cast("bigint").alias("dow")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").alias("x")
    )
    cells = cells.cache()  # consumed by gstat AND the normalized grid
    gstat = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("x").cast("decimal(38,2)").alias("sx_all"),
        F.countDistinct("cust").cast("bigint").alias("n"),
    )
    mu = F.col("sx_all").cast("double") / F.col("n_cells")
    u = cells.join(F.broadcast(gstat)).select(
        "cust", "dow", "x",
        (F.col("x").cast("double") / mu).alias("u"),
    )
    u = u.cache()  # consumed by items AND totals
    items = u.groupBy("dow").agg(
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.sum(F.round("u", 9).cast("decimal(28,9)")).cast("double")
        .alias("su"),
        F.sum(F.round(F.col("u") * F.col("u"), 9).cast("decimal(28,9)"))
        .cast("double").alias("suu"),
    )
    items = items.cache()  # consumed by k, ivar AND the output
    k = items.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    totals = u.groupBy("cust").agg(
        F.sum(F.round("u", 9).cast("decimal(28,9)")).cast("decimal(28,9)")
        .cast("double").alias("t")
    )
    tvar = totals.agg(
        F.sum(F.round("t", 9).cast("decimal(38,9)")).cast("double")
        .alias("st"),
        F.sum(F.round(F.col("t") * F.col("t"), 9).cast("decimal(38,9)"))
        .cast("double").alias("stt"),
    )
    nd = F.col("n")
    ivar = (
        items.join(F.broadcast(gstat))
        .agg(
            F.sum(
                F.round(
                    F.col("suu") / nd
                    - (F.col("su") / nd) * (F.col("su") / nd),
                    9,
                ).cast("decimal(28,9)")
            ).cast("double").alias("sum_item_var")
        )
    )
    item_var = (
        F.col("suu") / nd - (F.col("su") / nd) * (F.col("su") / nd)
    )
    total_var = (
        F.col("stt") / nd - (F.col("st") / nd) * (F.col("st") / nd)
    )
    alpha = (
        F.col("k").cast("double") / (F.col("k") - 1)
        * (F.lit(1.0) - F.col("sum_item_var") / total_var)
    )
    return (
        items.join(F.broadcast(gstat)).join(F.broadcast(k))
        .join(F.broadcast(tvar)).join(F.broadcast(ivar))
        .select(
            "dow",
            F.round(F.col("sx").cast("double") / nd, 6).alias("item_mean"),
            F.round(F.sqrt(item_var) / (F.col("su") / nd), 6)
            .alias("item_cv"),
            F.round(F.col("sum_item_var") / total_var, 6).alias("var_ratio"),
            F.round(alpha, 6).alias("cronbach_alpha"),
        )
        .orderBy("dow")
    )


# -- q_newsvendor ------------------------------------------------------
#
# Newsvendor optimal stocking per brand: with underage cost 4× the
# overage cost the critical ratio is 0.8, so the optimal daily stock
# is the 0.8-quantile of the brand's daily-demand distribution
# (lower-value quantile on the exact distinct-demand grid — the
# q_quantile_bins shape: cumulative day-counts over a per-brand
# demand-value grid, never a row-level sort). Expected leftover
# E[(q−D)⁺] and shortage E[(D−q)⁺] come from the same grid as exact
# integer sums, so the per-unit-cost expected total is one double
# division. Scale: one scan → per-brand demand grids → |brands| rows.

NEWSVENDOR_SQL = """
WITH demand AS (
  SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), grid AS (
  SELECT brand, d, CAST(COUNT(*) AS BIGINT) AS days FROM demand
  GROUP BY 1, 2
), cum AS (
  SELECT brand, d, days,
         CAST(SUM(days) OVER (PARTITION BY brand ORDER BY d) AS BIGINT)
           AS cdays,
         CAST(SUM(days) OVER (PARTITION BY brand) AS BIGINT) AS n_days
  FROM grid
), q AS (
  SELECT brand, n_days, CAST(MIN(d) AS BIGINT) AS q_opt
  FROM cum WHERE 5 * cdays >= 4 * n_days
  GROUP BY 1, 2
), cost AS (
  SELECT g.brand, q.q_opt, q.n_days,
         CAST(SUM(CASE WHEN g.d < q.q_opt
                       THEN (q.q_opt - g.d) * g.days ELSE 0 END) AS BIGINT)
           AS leftover_units,
         CAST(SUM(CASE WHEN g.d > q.q_opt
                       THEN (g.d - q.q_opt) * g.days ELSE 0 END) AS BIGINT)
           AS shortage_units
  FROM grid g JOIN q ON q.brand = g.brand
  GROUP BY 1, 2, 3
)
SELECT brand, n_days, q_opt,
       round(CAST(leftover_units AS DOUBLE) / n_days, 6) AS exp_leftover,
       round(CAST(shortage_units AS DOUBLE) / n_days, 6) AS exp_shortage,
       round((CAST(leftover_units AS DOUBLE)
              + 4.0 * shortage_units) / n_days, 6) AS exp_cost_units
FROM cost
ORDER BY brand
"""


@query("q_newsvendor", oracle=NEWSVENDOR_SQL)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    demand = (
        cat.lineitem.join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
             .alias("d"))
    )
    grid = demand.groupBy("brand", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("days")
    )
    grid = grid.cache()  # consumed by cum AND cost
    wc = Window.partitionBy("brand").orderBy("d")
    wa = Window.partitionBy("brand")
    cum = grid.select(
        "brand", "d", "days",
        F.sum("days").over(wc).cast("bigint").alias("cdays"),
        F.sum("days").over(wa).cast("bigint").alias("n_days"),
    )
    q = (
        cum.filter(5 * F.col("cdays") >= 4 * F.col("n_days"))
        .groupBy("brand", "n_days")
        .agg(F.min("d").cast("bigint").alias("q_opt"))
    )
    cost = (
        grid.join(q, "brand")
        .groupBy("brand", "q_opt", "n_days")
        .agg(
            F.sum(
                F.when(
                    F.col("d") < F.col("q_opt"),
                    (F.col("q_opt") - F.col("d")) * F.col("days"),
                ).otherwise(0)
            ).cast("bigint").alias("leftover_units"),
            F.sum(
                F.when(
                    F.col("d") > F.col("q_opt"),
                    (F.col("d") - F.col("q_opt")) * F.col("days"),
                ).otherwise(0)
            ).cast("bigint").alias("shortage_units"),
        )
    )
    nd = F.col("n_days")
    return cost.select(
        "brand", "n_days", "q_opt",
        F.round(F.col("leftover_units").cast("double") / nd, 6)
        .alias("exp_leftover"),
        F.round(F.col("shortage_units").cast("double") / nd, 6)
        .alias("exp_shortage"),
        F.round(
            (
                F.col("leftover_units").cast("double")
                + 4.0 * F.col("shortage_units")
            ) / nd, 6
        ).alias("exp_cost_units"),
    ).orderBy("brand")


# -- q_round_number_bias -----------------------------------------------
#
# Forensic round-number bias audit on order totals (the Benford
# companion at the OTHER end of the digit string): are .00-cent /
# whole-hundred / whole-thousand amounts over-represented vs the
# uniform-endings null? Exact integer cent arithmetic (price×100 as
# BIGINT, modulo tests), one-proportion z per pattern. Fabricated or
# hand-keyed amounts cluster on round numbers; machine-priced ones
# don't. Scale: one partial-aggregated scan → 3 rows.

ROUND_BIAS_SQL = """
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS h100,
         CAST(SUM(CASE WHEN c % 10000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS h10000,
         CAST(SUM(CASE WHEN c % 100000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS h100000
  FROM cents
), pat AS (
  SELECT 'cents_00' AS pattern, n, h100 AS hits, 0.01 AS p0 FROM agg
  UNION ALL
  SELECT 'whole_hundred', n, h10000, 0.0001 FROM agg
  UNION ALL
  SELECT 'whole_thousand', n, h100000, 0.00001 FROM agg
)
SELECT pattern, n, hits,
       round(p0, 6) AS expected_rate,
       round(CAST(hits AS DOUBLE) / n, 6) AS observed_rate,
       round((CAST(hits AS DOUBLE) / n - p0)
             / sqrt(p0 * (1.0 - p0) / n), 6) AS z,
       CAST(CASE WHEN (CAST(hits AS DOUBLE) / n - p0)
                      / sqrt(p0 * (1.0 - p0) / n) > 3.0
                 THEN 1 ELSE 0 END AS BIGINT) AS biased
FROM pat
ORDER BY pattern
"""


@query("q_round_number_bias", oracle=ROUND_BIAS_SQL)
def q_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    c = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    agg = o.select(c.alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("c") % 100 == 0, 1).otherwise(0)).cast("bigint")
        .alias("h100"),
        F.sum(F.when(F.col("c") % 10000 == 0, 1).otherwise(0))
        .cast("bigint").alias("h10000"),
        F.sum(F.when(F.col("c") % 100000 == 0, 1).otherwise(0))
        .cast("bigint").alias("h100000"),
    )
    pat = agg.selectExpr(
        "stack(3, 'cents_00', h100, 0.01d, "
        "'whole_hundred', h10000, 0.0001d, "
        "'whole_thousand', h100000, 0.00001d) AS (pattern, hits, p0)",
        "n",
    )
    phat = F.col("hits").cast("double") / F.col("n")
    z = (phat - F.col("p0")) / F.sqrt(
        F.col("p0") * (F.lit(1.0) - F.col("p0")) / F.col("n")
    )
    return pat.select(
        "pattern", "n", F.col("hits").cast("bigint").alias("hits"),
        F.round("p0", 6).alias("expected_rate"),
        F.round(phat, 6).alias("observed_rate"),
        F.round(z, 6).alias("z"),
        F.when(z > 3.0, 1).otherwise(0).cast("bigint").alias("biased"),
    ).orderBy("pattern")


# -- q_structuring_detect ----------------------------------------------
#
# Structuring ("smurfing") detection on orders: customer-days where
# TWO OR MORE orders each individually stay under the 200k reporting
# threshold but together cross it — the classic split-transaction
# audit. Exact decimal totals and integer counts; the flag is a pure
# predicate so the result is hash-exact. Scale: one partial-
# aggregated (cust, day) groupBy → flagged rows only.

STRUCTURING_SQL = """
WITH cd AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS day_total,
         CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS max_order
  FROM orders GROUP BY 1, 2
)
SELECT cust, CAST(day AS VARCHAR) AS day, n_orders,
       CAST(day_total AS DOUBLE) AS day_total,
       CAST(max_order AS DOUBLE) AS max_order
FROM cd
WHERE n_orders >= 2 AND max_order < 200000.00
  AND day_total >= 200000.00
ORDER BY cust, day
"""


@query("q_structuring_detect", oracle=STRUCTURING_SQL)
def q_structuring_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    cd = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("day_total"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").alias("max_order"),
    )
    return (
        cd.filter(
            (F.col("n_orders") >= 2)
            & (F.col("max_order") < 200000.00)
            & (F.col("day_total") >= 200000.00)
        )
        .select(
            "cust",
            F.col("day").cast("string").alias("day"),
            "n_orders",
            F.col("day_total").cast("double").alias("day_total"),
            F.col("max_order").cast("double").alias("max_order"),
        )
        .orderBy("cust", "day")
    )


# -- q_raking_weights --------------------------------------------------
#
# Survey raking (iterative proportional fitting, 2 full sweeps) of
# an md5-drawn ~10% customer sample to the POPULATION region ×
# market-segment margins: the calibration-weighting standard when a
# sample's composition drifts from the frame. Each sweep scales cell
# weights by (population margin)/(weighted sample margin); weighted
# margins fold DECIMAL(28,6)-rounded cell terms (≤25 cells). Reports
# the final weight per cell and the achieved margin relative errors
# after two sweeps. Scale: two scans (population margins, sample
# cells) → 25-cell grid → 25 rows.

RAKING_SQL = """
WITH cust AS (
  SELECT c.c_custkey AS k, r.r_name AS region, c.c_mktsegment AS seg,
         CASE WHEN substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 2) < '1a'
              THEN 1 ELSE 0 END AS in_sample
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
), pop_r AS (
  SELECT region, CAST(COUNT(*) AS BIGINT) AS pr FROM cust GROUP BY 1
), pop_s AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS ps FROM cust GROUP BY 1
), cells AS (
  SELECT region, seg, CAST(COUNT(*) AS BIGINT) AS n
  FROM cust WHERE in_sample = 1 GROUP BY 1, 2
), w0 AS (
  SELECT region, seg, n, 1.0 AS w FROM cells
), m1r AS (
  SELECT region,
         CAST(SUM(CAST(round(n * w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm
  FROM w0 GROUP BY 1
), w1 AS (
  SELECT w0.region, w0.seg, w0.n, w0.w * pr.pr / m.sm AS w
  FROM w0 JOIN m1r m ON m.region = w0.region
  JOIN pop_r pr ON pr.region = w0.region
), m1s AS (
  SELECT seg,
         CAST(SUM(CAST(round(n * w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm
  FROM w1 GROUP BY 1
), w2 AS (
  SELECT w1.region, w1.seg, w1.n, w1.w * ps.ps / m.sm AS w
  FROM w1 JOIN m1s m ON m.seg = w1.seg
  JOIN pop_s ps ON ps.seg = w1.seg
), m2r AS (
  SELECT region,
         CAST(SUM(CAST(round(n * w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm
  FROM w2 GROUP BY 1
), w3 AS (
  SELECT w2.region, w2.seg, w2.n, w2.w * pr.pr / m.sm AS w
  FROM w2 JOIN m2r m ON m.region = w2.region
  JOIN pop_r pr ON pr.region = w2.region
), m2s AS (
  SELECT seg,
         CAST(SUM(CAST(round(n * w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm
  FROM w3 GROUP BY 1
), w4 AS (
  SELECT w3.region, w3.seg, w3.n, w3.w * ps.ps / m.sm AS w
  FROM w3 JOIN m2s m ON m.seg = w3.seg
  JOIN pop_s ps ON ps.seg = w3.seg
), chk_r AS (
  SELECT region,
         CAST(SUM(CAST(round(n * w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm
  FROM w4 GROUP BY 1
)
SELECT w4.region, w4.seg AS segment, w4.n AS n_sample,
       round(w4.w, 6) AS weight,
       round(abs(cr.sm - pr.pr) / pr.pr, 6) AS region_margin_err
FROM w4
JOIN chk_r cr ON cr.region = w4.region
JOIN pop_r pr ON pr.region = w4.region
ORDER BY w4.region, w4.seg
"""


@query("q_raking_weights", oracle=RAKING_SQL)
def q_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cust = (
        cat.customer
        .join(F.broadcast(cat.nation),
              F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(cat.region),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
            F.when(
                F.substring(
                    F.md5(F.col("c_custkey").cast("string")), 1, 2
                ) < "1a", 1
            ).otherwise(0).alias("in_sample"),
        )
    )
    cust = cust.cache()  # consumed by both margins AND the sample cells
    pop_r = cust.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("pr")
    )
    pop_s = cust.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("ps")
    )
    cells = (
        cust.filter(F.col("in_sample") == 1)
        .groupBy("region", "seg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Checkpoint the 25-cell rake grid once up front and after every
    # IPF sweep (r9 plan diet): margin_fold(w) re-derives w's WHOLE
    # lineage, so without the cuts each of the 4 folds + the final
    # check replays all upstream sweeps — 65 exchanges of scheduler
    # tax for a 25-row grid. With the cuts each fold starts from a
    # materialized grid: same values, same hash, ~1/3 the stages.
    w = cells.withColumn("w", F.lit(1.0)).localCheckpoint()

    def margin_fold(df, key):
        return df.groupBy(key).agg(
            F.sum(
                F.round(F.col("n") * F.col("w"), 6).cast("decimal(28,6)")
            ).cast("double").alias("sm")
        )

    for _ in range(2):
        mr = margin_fold(w, "region")
        w = (
            w.join(mr, "region").join(F.broadcast(pop_r), "region")
            .select(
                "region", "seg", "n",
                (F.col("w") * F.col("pr") / F.col("sm")).alias("w"),
            )
        )
        ms = margin_fold(w, "seg")
        w = (
            w.join(ms, "seg").join(F.broadcast(pop_s), "seg")
            .select(
                "region", "seg", "n",
                (F.col("w") * F.col("ps") / F.col("sm")).alias("w"),
            )
        ).localCheckpoint()  # sweep boundary: cut the IPF lineage
    chk_r = margin_fold(w, "region")
    return (
        w.join(chk_r, "region")
        .join(F.broadcast(pop_r), "region")
        .select(
            "region",
            F.col("seg").alias("segment"),
            F.col("n").alias("n_sample"),
            F.round("w", 6).alias("weight"),
            F.round(
                F.abs(F.col("sm") - F.col("pr")) / F.col("pr"), 6
            ).alias("region_margin_err"),
        )
        .orderBy("region", "segment")
    )


# -- q_little_law_audit ------------------------------------------------
#
# Little's law audit (L = λW) of the order fulfillment system,
# monthly for 1996: L = average open orders per day (EXACT integer
# overlap-days between each order's [orderdate, last shipdate]
# interval and the month, summed), λ = arrivals/day, W = average
# residence days of that month's arrivals. The gap |L − λ·W_arr|/L
# quantifies how far the system is from flow balance that month
# (ramping backlogs and censoring show up as gap) — the ops-health
# sibling of q_interval_sweep's PEAK concurrency. Scale: one
# orders⋈lineitem max-ship aggregation → ×12 broadcast month grid →
# 12 rows.

LITTLE_SQL = """
WITH spans AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d0,
         CAST(MAX(CAST(l.l_shipdate AS DATE)) AS DATE) AS d1
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), months AS (
  SELECT m.m,
         CAST('1996-01-01' AS DATE) + INTERVAL (m.m - 1) MONTH AS m0,
         CAST('1996-01-01' AS DATE) + INTERVAL (m.m) MONTH
           - INTERVAL 1 DAY AS m1
  FROM generate_series(1, 12) AS m(m)
), ov AS (
  SELECT mo.m,
         CAST(SUM(GREATEST(0,
           date_diff('day',
             GREATEST(s.d0, CAST(mo.m0 AS DATE)),
             LEAST(s.d1, CAST(mo.m1 AS DATE))) + 1)) AS BIGINT)
           AS open_days,
         CAST(date_diff('day', CAST(mo.m0 AS DATE),
                        CAST(mo.m1 AS DATE)) + 1 AS BIGINT) AS mdays
  FROM months mo JOIN spans s
    ON s.d0 <= CAST(mo.m1 AS DATE) AND s.d1 >= CAST(mo.m0 AS DATE)
  GROUP BY 1, 3
), arr AS (
  SELECT mo.m,
         CAST(COUNT(*) AS BIGINT) AS n_arr,
         CAST(SUM(date_diff('day', s.d0, s.d1) + 1) AS BIGINT) AS res_days
  FROM months mo JOIN spans s
    ON s.d0 >= CAST(mo.m0 AS DATE) AND s.d0 <= CAST(mo.m1 AS DATE)
  GROUP BY 1
)
SELECT o.m AS month,
       round(CAST(o.open_days AS DOUBLE) / o.mdays, 6) AS l_avg_open,
       round(CAST(a.n_arr AS DOUBLE) / o.mdays, 6) AS lambda_per_day,
       round(CAST(a.res_days AS DOUBLE) / a.n_arr, 6) AS w_avg_days,
       round(abs(CAST(o.open_days AS DOUBLE) / o.mdays
                 - CAST(a.n_arr AS DOUBLE) / o.mdays
                   * (CAST(a.res_days AS DOUBLE) / a.n_arr))
             / (CAST(o.open_days AS DOUBLE) / o.mdays), 6) AS little_gap
FROM ov o JOIN arr a ON a.m = o.m
WHERE o.open_days > 0 AND a.n_arr > 0
ORDER BY o.m
"""


@query("q_little_law_audit", oracle=LITTLE_SQL)
def q_little_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    spans = (
        cat.orders.join(
            cat.lineitem.select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey", F.col("o_orderdate").cast("date").alias("d0")
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("d1"))
    )
    spans = spans.cache()  # consumed by the overlap AND arrival joins
    months = spark.range(1, 13).select(
        F.col("id").cast("int").alias("m"),
        F.add_months(F.lit("1996-01-01").cast("date"),
                     F.col("id").cast("int") - 1).alias("m0"),
        F.date_sub(
            F.add_months(F.lit("1996-01-01").cast("date"),
                         F.col("id").cast("int")), 1
        ).alias("m1"),
    )
    ov = (
        months.join(
            spans,
            (F.col("d0") <= F.col("m1")) & (F.col("d1") >= F.col("m0")),
        )
        .groupBy(
            "m",
            (F.datediff("m1", "m0") + 1).cast("bigint").alias("mdays"),
        )
        .agg(
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.datediff(
                        F.least("d1", "m1"), F.greatest("d0", "m0")
                    ) + 1,
                )
            ).cast("bigint").alias("open_days")
        )
    )
    arr = (
        months.join(
            spans,
            (F.col("d0") >= F.col("m0")) & (F.col("d0") <= F.col("m1")),
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_arr"),
            F.sum(F.datediff("d1", "d0") + 1).cast("bigint")
            .alias("res_days"),
        )
    )
    l_avg = F.col("open_days").cast("double") / F.col("mdays")
    lam = F.col("n_arr").cast("double") / F.col("mdays")
    w_avg = F.col("res_days").cast("double") / F.col("n_arr")
    return (
        ov.join(arr, "m")
        .filter((F.col("open_days") > 0) & (F.col("n_arr") > 0))
        .select(
            F.col("m").alias("month"),
            F.round(l_avg, 6).alias("l_avg_open"),
            F.round(lam, 6).alias("lambda_per_day"),
            F.round(w_avg, 6).alias("w_avg_days"),
            F.round(F.abs(l_avg - lam * w_avg) / l_avg, 6)
            .alias("little_gap"),
        )
        .orderBy("month")
    )


# -- q_var_cvar --------------------------------------------------------
#
# Value-at-Risk and Conditional VaR of day-over-day revenue CHANGES:
# VaR95 = the exact 5th-percentile change (lower-quantile on the
# distinct-value grid — the house quantile shape), CVaR95 = the
# exact mean of the tail at or below it — the risk pair where CVaR
# is coherent (subadditive) and VaR alone is not. Day deltas are
# exact decimals (difference of exact daily sums on the day-grid
# lag); the tail mean is an exact conditional decimal sum. Scale:
# one scan → |days| grid → 1 row.

VAR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1
), chg AS (
  SELECT CAST(rev - LAG(rev) OVER (ORDER BY day) AS DECIMAL(28,2)) AS d
  FROM daily
), chg2 AS (
  SELECT d FROM chg WHERE d IS NOT NULL
), grid AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM chg2 GROUP BY 1
), cum AS (
  SELECT d, CAST(SUM(cnt) OVER (ORDER BY d) AS BIGINT) AS c,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM grid
), var95 AS (
  SELECT CAST(MIN(d) AS DECIMAL(28,2)) AS v, MAX(n) AS n
  FROM cum WHERE 20 * c >= n
), tail AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(c2.d) AS DECIMAL(38,2)) AS s_tail
  FROM chg2 c2 CROSS JOIN var95 v
  WHERE c2.d <= v.v
)
SELECT v.n AS n_days,
       CAST(v.v AS DOUBLE) AS var95,
       t.n_tail,
       round(CAST(t.s_tail AS DOUBLE) / t.n_tail, 6) AS cvar95
FROM var95 v CROSS JOIN tail t
WHERE t.n_tail > 0
"""


@query("q_var_cvar", oracle=VAR_SQL)
def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    w = Window.orderBy("day")  # grid-sized sort over unique days
    chg2 = daily.select(
        (F.col("rev") - F.lag("rev").over(w)).cast("decimal(28,2)")
        .alias("d")
    ).filter(F.col("d").isNotNull())
    chg2 = chg2.cache()  # consumed by the grid AND the tail sum
    grid = chg2.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = Window.orderBy("d")
    wa = Window.partitionBy()
    cum = grid.select(
        "d",
        F.sum("cnt").over(wc).cast("bigint").alias("c"),
        F.sum("cnt").over(wa).cast("bigint").alias("n"),
    )
    var95 = cum.filter(20 * F.col("c") >= F.col("n")).agg(
        F.min("d").cast("decimal(28,2)").alias("v"),
        F.max("n").alias("n"),
    )
    tail = chg2.join(F.broadcast(var95)).filter(
        F.col("d") <= F.col("v")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum("d").cast("decimal(38,2)").alias("s_tail"),
    )
    return (
        var95.join(F.broadcast(tail))
        .filter(F.col("n_tail") > 0)
        .select(
            F.col("n").alias("n_days"),
            F.col("v").cast("double").alias("var95"),
            "n_tail",
            F.round(
                F.col("s_tail").cast("double") / F.col("n_tail"), 6
            ).alias("cvar95"),
        )
    )


# -- q_backlog_aging ---------------------------------------------------
#
# Open-order backlog aging at a fixed snapshot date (1997-06-30):
# orders placed but not fully shipped, bucketed by days open
# (0-30 / 31-90 / 91-180 / 180+) with exact counts and exact
# decimal value-at-risk-of-churn totals per bucket — the ops
# dashboard behind every "why is fulfillment slipping" review.
# "Fully shipped" = the order's LAST lineitem shipdate; open =
# placed ≤ snapshot < last ship. Scale: one orders⋈lineitem
# max-ship aggregation → 4-row bucket grid.

BACKLOG_SQL = """
WITH spans AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d0,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS val,
         CAST(MAX(CAST(l.l_shipdate AS DATE)) AS DATE) AS d1
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
), open_orders AS (
  SELECT date_diff('day', d0, DATE '1997-06-30') AS age, val
  FROM spans
  WHERE d0 <= DATE '1997-06-30' AND d1 > DATE '1997-06-30'
), bucketed AS (
  SELECT CASE WHEN age <= 30 THEN '0-30'
              WHEN age <= 90 THEN '31-90'
              WHEN age <= 180 THEN '91-180'
              ELSE '180+' END AS bucket,
         val
  FROM open_orders
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_open,
         CAST(SUM(val) AS DECIMAL(38,2)) AS v_open
  FROM bucketed
)
SELECT b.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(b.val) AS DECIMAL(38,2)) AS DOUBLE) AS value_open,
       round(CAST(COUNT(*) AS DOUBLE) / t.n_open, 6) AS order_share,
       round(CAST(CAST(SUM(b.val) AS DECIMAL(38,2)) AS DOUBLE)
             / CAST(t.v_open AS DOUBLE), 6) AS value_share
FROM bucketed b CROSS JOIN tot t
GROUP BY b.bucket, t.n_open, t.v_open
ORDER BY b.bucket
"""


@query("q_backlog_aging", oracle=BACKLOG_SQL)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    snap = F.lit("1997-06-30").cast("date")
    spans = (
        cat.orders.join(
            cat.lineitem.select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("val"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("d1"))
    )
    open_orders = spans.filter(
        (F.col("d0") <= snap) & (F.col("d1") > snap)
    ).select(F.datediff(snap, F.col("d0")).alias("age"), "val")
    bucketed = open_orders.select(
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 90, "31-90")
        .when(F.col("age") <= 180, "91-180")
        .otherwise("180+").alias("bucket"),
        "val",
    )
    bucketed = bucketed.cache()  # consumed by tot AND the bucket rollup
    tot = bucketed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_open"),
        F.sum("val").cast("decimal(38,2)").alias("v_open"),
    )
    return (
        bucketed.join(F.broadcast(tot))
        .groupBy("bucket", "n_open", "v_open")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("val").cast("decimal(38,2)").cast("double")
            .alias("value_open"),
        )
        .select(
            "bucket", "n_orders", "value_open",
            F.round(
                F.col("n_orders").cast("double") / F.col("n_open"), 6
            ).alias("order_share"),
            F.round(
                F.col("value_open") / F.col("v_open").cast("double"), 6
            ).alias("value_share"),
        )
        .orderBy("bucket")
    )


# -- q_panel_fe --------------------------------------------------------
#
# Two-way fixed-effects panel regression (the within estimator) on
# the nation × month revenue panel: demean monthly revenue and order
# count by nation AND month (ỹ = y − ȳᵢ − ȳₜ + ȳ), then OLS on the
# demeaned pair — the workhorse that kills any time-invariant
# nation effect and any nation-invariant month shock before
# estimating the volume→revenue slope. Reported next to the POOLED
# slope so the FE correction is visible. Cell sums are exact
# decimals; demeaned products round to DECIMAL(38,4) pre-fold.
# Scale: one scan → |nations|×|months| cell grid → 1 row.

PANEL_FE_SQL = """
WITH cells AS (
  SELECT c.c_nationkey AS i,
         year(CAST(o.o_orderdate AS DATE)) * 12
           + month(CAST(o.o_orderdate AS DATE)) AS t,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS y,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), mi AS (
  SELECT i, CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cells GROUP BY 1
), mt AS (
  SELECT t, CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cells GROUP BY 1
), g AS (
  SELECT CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT i) AS BIGINT) AS ni,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS nt
  FROM cells
), dm AS (
  SELECT CAST(c.y AS DOUBLE) - CAST(mi.sy AS DOUBLE) / mi.n
           - CAST(mt.sy AS DOUBLE) / mt.n
           + CAST(g.sy AS DOUBLE) / g.n AS yd,
         CAST(c.x AS DOUBLE) - CAST(mi.sx AS DOUBLE) / mi.n
           - CAST(mt.sx AS DOUBLE) / mt.n
           + CAST(g.sx AS DOUBLE) / g.n AS xd,
         CAST(c.y AS DOUBLE) - CAST(g.sy AS DOUBLE) / g.n AS yp,
         CAST(c.x AS DOUBLE) - CAST(g.sx AS DOUBLE) / g.n AS xp
  FROM cells c
  JOIN mi ON mi.i = c.i
  JOIN mt ON mt.t = c.t
  CROSS JOIN g
), folds AS (
  SELECT
    CAST(SUM(CAST(round(xd * yd, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(xd * xd, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(yd * yd, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(round(xp * yp, 4) AS DECIMAL(38,4))) AS DOUBLE) AS pxy,
    CAST(SUM(CAST(round(xp * xp, 4) AS DECIMAL(38,4))) AS DOUBLE) AS pxx
  FROM dm
)
SELECT g.n AS n_cells, g.ni AS n_nations, g.nt AS n_months,
       round(f.sxy / f.sxx, 6) AS beta_within,
       round(f.pxy / f.pxx, 6) AS beta_pooled,
       round(f.sxy * f.sxy / (f.sxx * f.syy), 6) AS r2_within
FROM folds f CROSS JOIN g
WHERE f.sxx > 0 AND f.syy > 0 AND f.pxx > 0
"""


@query("q_panel_fe", oracle=PANEL_FE_SQL)
def q_panel_fe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cells = (
        cat.orders.join(
            F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("i"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .alias("t"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").alias("y"),
            F.count(F.lit(1)).cast("bigint").alias("x"),
        )
    )
    cells = cells.cache()  # consumed by three margin aggs AND the demean
    mi = cells.groupBy("i").agg(
        F.sum("y").cast("decimal(38,2)").alias("sy_i"),
        F.sum("x").cast("bigint").alias("sx_i"),
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
    )
    mt = cells.groupBy("t").agg(
        F.sum("y").cast("decimal(38,2)").alias("sy_t"),
        F.sum("x").cast("bigint").alias("sx_t"),
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
    )
    g = cells.agg(
        F.sum("y").cast("decimal(38,2)").alias("sy_g"),
        F.sum("x").cast("bigint").alias("sx_g"),
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.countDistinct("i").cast("bigint").alias("ni"),
        F.countDistinct("t").cast("bigint").alias("nt"),
    )
    yd = (
        F.col("y").cast("double")
        - F.col("sy_i").cast("double") / F.col("n_i")
        - F.col("sy_t").cast("double") / F.col("n_t")
        + F.col("sy_g").cast("double") / F.col("n_g")
    )
    xd = (
        F.col("x").cast("double")
        - F.col("sx_i").cast("double") / F.col("n_i")
        - F.col("sx_t").cast("double") / F.col("n_t")
        + F.col("sx_g").cast("double") / F.col("n_g")
    )
    yp = F.col("y").cast("double") - F.col("sy_g").cast("double") / F.col("n_g")
    xp = F.col("x").cast("double") - F.col("sx_g").cast("double") / F.col("n_g")
    dm = (
        cells.join(F.broadcast(mi), "i")
        .join(F.broadcast(mt), "t")
        .join(F.broadcast(g))
        .select(
            yd.alias("yd"), xd.alias("xd"), yp.alias("yp"), xp.alias("xp")
        )
    )

    def fold(a, b, name):
        return (
            F.sum(F.round(F.col(a) * F.col(b), 4).cast("decimal(38,4)"))
            .cast("double").alias(name)
        )

    folds = dm.agg(
        fold("xd", "yd", "sxy"), fold("xd", "xd", "sxx"),
        fold("yd", "yd", "syy"), fold("xp", "yp", "pxy"),
        fold("xp", "xp", "pxx"),
    )
    return (
        folds.join(F.broadcast(g))
        .filter(
            (F.col("sxx") > 0) & (F.col("syy") > 0) & (F.col("pxx") > 0)
        )
        .select(
            F.col("n_g").alias("n_cells"),
            F.col("ni").alias("n_nations"),
            F.col("nt").alias("n_months"),
            F.round(F.col("sxy") / F.col("sxx"), 6).alias("beta_within"),
            F.round(F.col("pxy") / F.col("pxx"), 6).alias("beta_pooled"),
            F.round(
                F.col("sxy") * F.col("sxy")
                / (F.col("sxx") * F.col("syy")), 6
            ).alias("r2_within"),
        )
    )


# -- q_regression_discontinuity ----------------------------------------
#
# Sharp regression-discontinuity design at the natural account-
# balance cutoff 0 ("good standing"): local linear fits of customer
# order counts on balance WITHIN the ±1000 bandwidth on each side,
# jump = right-intercept(0) − left-intercept(0), plus the same
# estimator at a placebo cutoff (5000) where the true jump is zero —
# the design-validity check every RDD report carries. Side moments
# are exact decimals (bal DECIMAL(18,2), count BIGINT); intercepts
# are one double chain each. Scale: one partial-aggregated scan →
# 4 side-moment rows → 1 row.

RDD_SQL = """
WITH peru AS (
  SELECT c.c_custkey,
         CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), sides AS (
  SELECT CASE WHEN bal >= 0 THEN 'r' ELSE 'l' END AS side,
         'main' AS cut, CAST(bal AS DOUBLE) AS x, CAST(y AS DOUBLE) AS yv
  FROM peru WHERE bal >= -1000 AND bal < 1000
  UNION ALL
  SELECT CASE WHEN bal >= 5000 THEN 'r' ELSE 'l' END,
         'placebo', CAST(bal AS DOUBLE) - 5000.0, CAST(y AS DOUBLE)
  FROM peru WHERE bal >= 4000 AND bal < 6000
), m AS (
  SELECT cut, side, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(yv, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * yv, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxx
  FROM sides GROUP BY 1, 2
), fits AS (
  SELECT cut, side, n,
         (sy / n) - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)
           AS icept,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM m WHERE n * sxx - sx * sx <> 0
), wide AS (
  SELECT
    MIN(CASE WHEN cut = 'main' AND side = 'l' THEN n END) AS n_left,
    MIN(CASE WHEN cut = 'main' AND side = 'r' THEN n END) AS n_right,
    MIN(CASE WHEN cut = 'main' AND side = 'l' THEN icept END) AS i_l,
    MIN(CASE WHEN cut = 'main' AND side = 'r' THEN icept END) AS i_r,
    MIN(CASE WHEN cut = 'main' AND side = 'l' THEN slope END) AS s_l,
    MIN(CASE WHEN cut = 'main' AND side = 'r' THEN slope END) AS s_r,
    MIN(CASE WHEN cut = 'placebo' AND side = 'l' THEN icept END) AS p_l,
    MIN(CASE WHEN cut = 'placebo' AND side = 'r' THEN icept END) AS p_r
  FROM fits
)
SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       round(i_r - i_l, 6) AS jump,
       round(s_l, 6) AS slope_left,
       round(s_r, 6) AS slope_right,
       round(p_r - p_l, 6) AS placebo_jump
FROM wide
WHERE i_l IS NOT NULL AND i_r IS NOT NULL
  AND p_l IS NOT NULL AND p_r IS NOT NULL
"""


@query("q_regression_discontinuity", oracle=RDD_SQL)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    peru = (
        cat.customer.join(
            cat.orders.select("o_custkey", "o_orderkey"),
            F.col("o_custkey") == F.col("c_custkey"), "left",
        )
        .groupBy(
            "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("bal")
        )
        .agg(F.count("o_orderkey").cast("bigint").alias("y"))
    )
    peru = peru.cache()  # consumed by the main AND placebo windows
    main = peru.filter((F.col("bal") >= -1000) & (F.col("bal") < 1000)).select(
        F.when(F.col("bal") >= 0, "r").otherwise("l").alias("side"),
        F.lit("main").alias("cut"),
        F.col("bal").cast("double").alias("x"),
        F.col("y").cast("double").alias("yv"),
    )
    placebo = peru.filter(
        (F.col("bal") >= 4000) & (F.col("bal") < 6000)
    ).select(
        F.when(F.col("bal") >= 5000, "r").otherwise("l").alias("side"),
        F.lit("placebo").alias("cut"),
        (F.col("bal").cast("double") - 5000.0).alias("x"),
        F.col("y").cast("double").alias("yv"),
    )
    sides = main.union(placebo)
    m = sides.groupBy("cut", "side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 2).cast("decimal(18,2)")).cast("double")
        .alias("sx"),
        F.sum(F.round("yv", 2).cast("decimal(18,2)")).cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("yv"), 4).cast("decimal(28,4)"))
        .cast("double").alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(28,4)"))
        .cast("double").alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    icept = F.col("sy") / n - slope * (F.col("sx") / n)
    fits = m.filter((n * F.col("sxx") - F.col("sx") * F.col("sx")) != 0) \
            .select("cut", "side", "n", icept.alias("icept"),
                    slope.alias("slope"))

    def pick(cut, side, col, name):
        return F.min(
            F.when((F.col("cut") == cut) & (F.col("side") == side),
                   F.col(col))
        ).alias(name)

    wide = fits.agg(
        pick("main", "l", "n", "n_left"), pick("main", "r", "n", "n_right"),
        pick("main", "l", "icept", "i_l"), pick("main", "r", "icept", "i_r"),
        pick("main", "l", "slope", "s_l"), pick("main", "r", "slope", "s_r"),
        pick("placebo", "l", "icept", "p_l"),
        pick("placebo", "r", "icept", "p_r"),
    )
    return (
        wide.filter(
            F.col("i_l").isNotNull() & F.col("i_r").isNotNull()
            & F.col("p_l").isNotNull() & F.col("p_r").isNotNull()
        )
        .select(
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.round(F.col("i_r") - F.col("i_l"), 6).alias("jump"),
            F.round("s_l", 6).alias("slope_left"),
            F.round("s_r", 6).alias("slope_right"),
            F.round(F.col("p_r") - F.col("p_l"), 6).alias("placebo_jump"),
        )
    )


# -- q_gravity_trade ---------------------------------------------------
#
# Gravity model of the nation-to-nation trade flows (the mr_scc /
# mr_digraph_stats flow matrix): ln(flow_ij) ~ α + β·ln(mass_i ×
# mass_j), where mass is each nation's total trade volume — the
# empirical-trade workhorse (β ≈ 1 for classic gravity). ln-domain
# moments fold DECIMAL(28,9)-rounded terms (the q_elasticity
# discipline); masses and flows are exact counts. Scale: one fact
# scan → ≤625-pair grid → 1 row.

GRAVITY_SQL = """
WITH flows AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS flow
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), mass_s AS (
  SELECT src, CAST(SUM(flow) AS BIGINT) AS ms FROM flows GROUP BY 1
), mass_d AS (
  SELECT dst, CAST(SUM(flow) AS BIGINT) AS md FROM flows GROUP BY 1
), pts AS (
  SELECT ln(CAST(f.flow AS DOUBLE)) AS y,
         ln(CAST(ms.ms AS DOUBLE) * md.md) AS x
  FROM flows f
  JOIN mass_s ms ON ms.src = f.src
  JOIN mass_d md ON md.dst = f.dst
  WHERE f.flow > 0
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
  FROM pts
)
SELECT n AS n_pairs,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_mass,
       round(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx / n,
             6) AS alpha,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
"""


@query("q_gravity_trade", oracle=GRAVITY_SQL)
def q_gravity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    flows = (
        cat.lineitem
        .join(F.broadcast(cat.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("flow"))
    )
    flows = flows.cache()  # consumed by both mass margins AND pts
    mass_s = flows.groupBy("src").agg(
        F.sum("flow").cast("bigint").alias("ms")
    )
    mass_d = flows.groupBy("dst").agg(
        F.sum("flow").cast("bigint").alias("md")
    )
    pts = (
        flows.filter(F.col("flow") > 0)
        .join(F.broadcast(mass_s), "src")
        .join(F.broadcast(mass_d), "dst")
        .select(
            F.log(F.col("flow").cast("double")).alias("y"),
            F.log(F.col("ms").cast("double") * F.col("md")).alias("x"),
        )
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(28,9)")).cast("double")
            .alias(name)
        )

    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(F.col("x"), "sx"), fold(F.col("y"), "sy"),
        fold(F.col("x") * F.col("y"), "sxy"),
        fold(F.col("x") * F.col("x"), "sxx"),
        fold(F.col("y") * F.col("y"), "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    cov = n * F.col("sxy") - sx * sy
    slope = cov / vx
    return (
        m.filter((vx != 0) & (vy != 0))
        .select(
            n.alias("n_pairs"),
            F.round(slope, 6).alias("beta_mass"),
            F.round(sy / n - slope * sx / n, 6).alias("alpha"),
            F.round(cov * cov / (vx * vy), 6).alias("r2"),
        )
    )


# -- q_bass_diffusion --------------------------------------------------
#
# Bass diffusion model (Bass 1969) fit to monthly first-order
# adoptions by the discrete-time regression a_t = β₀ + β₁N + β₂N²
# (N = cumulative adopters entering the month), solved in closed
# form by Cramer's rule on the 3×3 normal equations. Every moment
# (Σa, ΣN…ΣN⁴, ΣaN, ΣaN²) is an EXACT integer fold in DECIMAL(38,0)
# — a and N are counts, so determinism is free — and the parameter
# recovery M = (−β₁−√(β₁²−4β₂β₀))/(2β₂), p = β₀/M, q = −β₂M plus
# peak time t* = ln(q/p)/(p+q) is one identical double chain.
# The product-adoption forecaster (market size M, innovation p,
# imitation q) on top of the same first-order grid as
# q_retention_cohorts. Scale: orders collapse to |customers| then to
# the ~80-month grid; the regression is a 1-row fold.

BASS_SQL = """
WITH fo AS (
  SELECT o_custkey, MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS m
  FROM orders GROUP BY 1
), adopt AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS a FROM fo GROUP BY 1
), cum AS (
  SELECT m, a,
         COALESCE(CAST(SUM(a) OVER (ORDER BY m
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS z
  FROM adopt
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(z AS DECIMAL(38,0)) * z) AS DOUBLE) AS s2,
    CAST(SUM(CAST(z AS DECIMAL(38,0)) * z * z) AS DOUBLE) AS s3,
    CAST(SUM(CAST(z AS DECIMAL(38,0)) * z * z * z) AS DOUBLE) AS s4,
    CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS t0,
    CAST(SUM(CAST(a AS DECIMAL(38,0)) * z) AS DOUBLE) AS t1,
    CAST(SUM(CAST(a AS DECIMAL(38,0)) * z * z) AS DOUBLE) AS t2
  FROM cum
), det AS (
  SELECT n, s1, s2, s3, s4, t0, t1, t2,
    n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
      + s2 * (s1 * s3 - s2 * s2) AS d,
    t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
      + s2 * (t1 * s3 - t2 * s2) AS d0,
    n * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
      + s2 * (s1 * t2 - s2 * t1) AS d1,
    n * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
      + t0 * (s1 * s3 - s2 * s2) AS d2
  FROM mom
), beta AS (
  SELECT n, d0 / d AS b0, d1 / d AS b1, d2 / d AS b2
  FROM det WHERE d != 0
), fit AS (
  SELECT n, b0, b1, b2,
         (-b1 - sqrt(b1 * b1 - 4.0 * b2 * b0)) / (2.0 * b2) AS m_total
  FROM beta
  WHERE b2 < 0 AND b1 * b1 - 4.0 * b2 * b0 > 0
)
SELECT n AS n_months,
       round(b0, 6) AS beta0, round(b1, 6) AS beta1,
       round(b2, 9) AS beta2,
       round(m_total, 2) AS market_size,
       round(b0 / m_total, 6) AS p_innovation,
       round(-b2 * m_total, 6) AS q_imitation,
       round(CASE WHEN b0 / m_total > 0 AND -b2 * m_total > 0
                  THEN ln((-b2 * m_total) / (b0 / m_total))
                       / (b0 / m_total + (-b2 * m_total)) END, 4)
         AS peak_month
FROM fit
"""


@query("q_bass_diffusion", oracle=BASS_SQL)
def q_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    fo = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.to_date("o_orderdate"))).alias("m")
    )
    adopt = fo.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = adopt.select(
        "m", "a",
        F.coalesce(F.sum("a").over(w).cast("bigint"), F.lit(0)).alias("z"),
    )
    # Decimal-headroom audit (r9): terms are (38,0) so these agg sums
    # get NO type widening — safe because z is the cumulative ADOPTER
    # count (<= |customers|: ~1.5e8 at SF1000), so the largest term
    # zd*z^3 <= ~5e32 and its sum over |months| ~ 84 grid rows is
    # <= ~4e34 << 1e38. SF-independent month grid keeps the term
    # count fixed; overflow would need SF ~ 1e5.
    zd = F.col("z").cast("decimal(38,0)")
    ad = F.col("a").cast("decimal(38,0)")
    mom = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(zd).cast("double").alias("s1"),
        F.sum(zd * F.col("z")).cast("double").alias("s2"),
        F.sum(zd * F.col("z") * F.col("z")).cast("double").alias("s3"),
        F.sum(zd * F.col("z") * F.col("z") * F.col("z")).cast("double")
        .alias("s4"),
        F.sum(ad).cast("double").alias("t0"),
        F.sum(ad * F.col("z")).cast("double").alias("t1"),
        F.sum(ad * F.col("z") * F.col("z")).cast("double").alias("t2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s3, s4 = F.col("s3"), F.col("s4")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = mom.select(
        "n", "s1", "s2", "s3", "s4", "t0", "t1", "t2",
        (
            n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * s3 - s2 * s2)
        ).alias("d"),
        (
            t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
            + s2 * (t1 * s3 - t2 * s2)
        ).alias("d0"),
        (
            n * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * t2 - s2 * t1)
        ).alias("d1"),
        (
            n * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
            + t0 * (s1 * s3 - s2 * s2)
        ).alias("d2"),
    )
    beta = det.filter(F.col("d") != 0).select(
        "n",
        (F.col("d0") / F.col("d")).alias("b0"),
        (F.col("d1") / F.col("d")).alias("b1"),
        (F.col("d2") / F.col("d")).alias("b2"),
    )
    b0, b1, b2 = F.col("b0"), F.col("b1"), F.col("b2")
    disc = b1 * b1 - 4.0 * b2 * b0
    fit = beta.filter((b2 < 0) & (disc > 0)).select(
        "n", "b0", "b1", "b2",
        ((-b1 - F.sqrt(disc)) / (2.0 * b2)).alias("m_total"),
    )
    p = b0 / F.col("m_total")
    q = -b2 * F.col("m_total")
    return fit.select(
        F.col("n").alias("n_months"),
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta1"),
        F.round("b2", 9).alias("beta2"),
        F.round("m_total", 2).alias("market_size"),
        F.round(p, 6).alias("p_innovation"),
        F.round(q, 6).alias("q_imitation"),
        F.round(F.when((p > 0) & (q > 0), F.log(q / p) / (p + q)), 4)
        .alias("peak_month"),
    )


# -- q_shift_share -----------------------------------------------------
#
# Shift-share decomposition of each nation's 1994→1995 revenue
# growth into NATIONAL (rode the overall tide), INDUSTRY-MIX
# (weighted toward fast/slow brands) and COMPETITIVE (out/under-
# performed its brands' own growth) effects — the regional-economics
# standard for "why did this region grow": Δ_n = Σ_b e_nb·g + Σ_b
# e_nb·(g_b − g) + Σ_b e_nb·(g_nb − g_b). The three effects sum to
# the actual change by construction (checked by the residual
# column). Base-year cells, brand totals and the grand total are
# exact DECIMAL sums; per-brand terms are identical double chains
# 9-rounded into exact per-nation folds. Scale: one fact scan
# partial-aggregated to the |nations|×|brands| grid (625 cells);
# brand/grand totals broadcast back; no second fact pass.

SHIFT_SQL = """
WITH cells AS (
  SELECT n.n_name AS nat, p.p_brand AS b,
    SUM(CASE WHEN year(CAST(o.o_orderdate AS DATE)) = 1994
        THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
      AS e0,
    SUM(CASE WHEN year(CAST(o.o_orderdate AS DATE)) = 1995
        THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
      AS e1
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(CAST(o.o_orderdate AS DATE)) IN (1994, 1995)
  GROUP BY 1, 2
), btot AS (
  SELECT b, CAST(SUM(e0) AS DOUBLE) AS b0, CAST(SUM(e1) AS DOUBLE) AS b1
  FROM cells GROUP BY 1
), gtot AS (
  SELECT CAST(SUM(e0) AS DOUBLE) AS g0, CAST(SUM(e1) AS DOUBLE) AS g1
  FROM cells
), terms AS (
  SELECT c.nat,
    CAST(round(CAST(c.e0 AS DOUBLE), 2) AS DECIMAL(28,2)) AS e0,
    CAST(round(CAST(c.e1 AS DOUBLE) - CAST(c.e0 AS DOUBLE), 2)
         AS DECIMAL(28,2)) AS actual,
    CAST(round(CAST(c.e0 AS DOUBLE) * (g.g1 / g.g0 - 1.0), 9)
         AS DECIMAL(28,9)) AS nat_term,
    CAST(round(CAST(c.e0 AS DOUBLE)
               * ((bt.b1 / bt.b0 - 1.0) - (g.g1 / g.g0 - 1.0)), 9)
         AS DECIMAL(28,9)) AS mix_term,
    CAST(round(CAST(c.e0 AS DOUBLE)
               * ((CAST(c.e1 AS DOUBLE) / CAST(c.e0 AS DOUBLE) - 1.0)
                  - (bt.b1 / bt.b0 - 1.0)), 9)
         AS DECIMAL(28,9)) AS comp_term
  FROM cells c
  JOIN btot bt ON bt.b = c.b
  CROSS JOIN gtot g
  WHERE c.e0 > 0 AND bt.b0 > 0 AND g.g0 > 0
)
SELECT nat AS n_name,
       CAST(SUM(e0) AS DOUBLE) AS base_rev,
       CAST(SUM(actual) AS DOUBLE) AS actual_change,
       round(CAST(SUM(nat_term) AS DOUBLE), 2) AS national_effect,
       round(CAST(SUM(mix_term) AS DOUBLE), 2) AS mix_effect,
       round(CAST(SUM(comp_term) AS DOUBLE), 2) AS competitive_effect,
       round(CAST(SUM(actual) AS DOUBLE)
             - CAST(SUM(nat_term) + SUM(mix_term) + SUM(comp_term)
                    AS DOUBLE), 2) AS residual
FROM terms GROUP BY 1 ORDER BY 1
"""


@query("q_shift_share", oracle=SHIFT_SQL)
def q_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    yr = F.year(F.to_date("o_orderdate"))
    zero = F.lit(0).cast("decimal(18,2)")
    cells = (
        cat.lineitem.select("l_orderkey", "l_partkey", "l_extendedprice",
                            "l_discount")
        .join(
            cat.orders.select("o_orderkey", "o_custkey", "o_orderdate")
            .filter(yr.isin(1994, 1995)),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(cat.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(F.col("n_name").alias("nat"), F.col("p_brand").alias("b"))
        .agg(
            F.sum(
                F.when(yr == 1994, rev.cast("decimal(18,2)")).otherwise(zero)
            ).alias("e0"),
            F.sum(
                F.when(yr == 1995, rev.cast("decimal(18,2)")).otherwise(zero)
            ).alias("e1"),
        )
    )
    cells = cells.cache()  # consumed by btot, gtot AND the term grid
    btot = cells.groupBy("b").agg(
        F.sum("e0").cast("double").alias("b0"),
        F.sum("e1").cast("double").alias("b1"),
    )
    gtot = cells.agg(
        F.sum("e0").cast("double").alias("g0"),
        F.sum("e1").cast("double").alias("g1"),
    )
    e0d = F.col("e0").cast("double")
    e1d = F.col("e1").cast("double")
    g_rate = F.col("g1") / F.col("g0") - 1.0
    b_rate = F.col("b1") / F.col("b0") - 1.0
    c_rate = e1d / e0d - 1.0
    terms = (
        cells.join(F.broadcast(btot), "b")
        .join(F.broadcast(gtot))
        .filter((F.col("e0") > 0) & (F.col("b0") > 0) & (F.col("g0") > 0))
        .select(
            "nat",
            F.round(e0d, 2).cast("decimal(28,2)").alias("e0"),
            F.round(e1d - e0d, 2).cast("decimal(28,2)").alias("actual"),
            F.round(e0d * g_rate, 9).cast("decimal(28,9)").alias("nat_term"),
            F.round(e0d * (b_rate - g_rate), 9).cast("decimal(28,9)")
            .alias("mix_term"),
            F.round(e0d * (c_rate - b_rate), 9).cast("decimal(28,9)")
            .alias("comp_term"),
        )
    )
    return (
        terms.groupBy(F.col("nat").alias("n_name"))
        .agg(
            F.sum("e0").cast("double").alias("base_rev"),
            F.sum("actual").cast("double").alias("actual_change"),
            F.round(F.sum("nat_term").cast("double"), 2)
            .alias("national_effect"),
            F.round(F.sum("mix_term").cast("double"), 2).alias("mix_effect"),
            F.round(F.sum("comp_term").cast("double"), 2)
            .alias("competitive_effect"),
            F.round(
                F.sum("actual").cast("double")
                - (
                    F.sum("nat_term") + F.sum("mix_term") + F.sum("comp_term")
                ).cast("double"),
                2,
            ).alias("residual"),
        )
        .orderBy("n_name")
    )


# -- q_cross_elasticity ------------------------------------------------
#
# Cross-price elasticity between the two highest-volume brands: slope
# of ln(daily quantity of brand B) on ln(daily mean discounted unit
# price of brand A), both directions — substitutes show positive
# cross-elasticity, complements negative; the between-product
# companion to q_elasticity's own-price fit. The identifying
# variation is day-to-day discount mix. Daily grids are exact:
# revenue folds DECIMAL(18,2), quantity DECIMAL(18,2); ln() runs on
# the one exact ratio per day; log-domain moments fold 9-rounded
# DECIMAL(18,9) terms (the q_elasticity contract). Matched days only
# (inner join of the two brand grids). Scale: one lineitem⋈part scan
# to the |brand × day| grid; the top-2 pick and both fits are grid
# algebra.

CROSS_ELAST_SQL = """
WITH daily AS MATERIALIZED (
  SELECT p_brand AS brand, l_shipdate AS day,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))))
              AS DECIMAL(18,4)) AS rev,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), top2 AS (
  SELECT brand, ROW_NUMBER() OVER (ORDER BY tq DESC, brand) AS rk
  FROM (SELECT brand, CAST(SUM(qty) AS DECIMAL(28,2)) AS tq
        FROM daily GROUP BY 1)
  QUALIFY rk <= 2
), ab AS (
  SELECT a.day,
         ln(CAST(a.rev AS DOUBLE) / CAST(a.qty AS DOUBLE)) AS pa,
         ln(CAST(b.qty AS DOUBLE)) AS qb,
         ln(CAST(b.rev AS DOUBLE) / CAST(b.qty AS DOUBLE)) AS pb,
         ln(CAST(a.qty AS DOUBLE)) AS qa,
         ta.brand AS brand_a, tb.brand AS brand_b
  FROM top2 ta JOIN daily a ON a.brand = ta.brand AND ta.rk = 1
  JOIN top2 tb ON tb.rk = 2
  JOIN daily b ON b.brand = tb.brand AND b.day = a.day
  WHERE a.qty > 0 AND b.qty > 0 AND a.rev > 0 AND b.rev > 0
), pairs AS (
  SELECT brand_a AS price_brand, brand_b AS demand_brand,
         pa AS x, qb AS y FROM ab
  UNION ALL
  SELECT brand_b, brand_a, pb AS x, qa AS y FROM ab
), m AS (
  SELECT price_brand, demand_brand, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT price_brand, demand_brand, n_days,
       round((n_days * sxy - sx * sy) / (n_days * sxx - sx * sx), 6)
         AS cross_elasticity,
       round((n_days * sxy - sx * sy) * (n_days * sxy - sx * sy)
             / ((n_days * sxx - sx * sx) * (n_days * syy - sy * sy)), 6)
         AS r2,
       CAST(CASE WHEN (n_days * sxy - sx * sy)
                      / (n_days * sxx - sx * sx) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS is_substitute
FROM m
WHERE n_days * sxx - sx * sx <> 0 AND n_days * syy - sy * sy <> 0
ORDER BY price_brand
"""


@query("q_cross_elasticity", oracle=CROSS_ELAST_SQL)
def q_cross_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    daily = (
        c.lineitem.join(
            c.part.select("p_partkey", "p_brand"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty"),
        )
    )
    daily = daily.cache()  # grid feeds top-2 pick AND both join sides
    top2 = (
        daily.groupBy("brand")
        .agg(F.sum("qty").cast("decimal(28,2)").alias("tq"))
        .select(
            "brand",
            F.row_number()
            .over(Window.orderBy(F.desc("tq"), "brand"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 2)
    )
    top2 = top2.cache()  # 2 rows
    # Single-pass pairing (r11): the rk=1/rk=2 slices were two joins
    # over the cached grid, re-paired by a third join on day. One
    # conditional aggregation over daily ⋈ broadcast(top2) pivots both
    # brands' (rev, qty) onto each day row instead — days missing a
    # brand carry NULLs that the same (> 0) filters already reject,
    # exactly like the old inner join on day.
    ab = (
        daily.join(F.broadcast(top2), "brand")
        .groupBy("day")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("brand"))).alias("brand_a"),
            F.max(F.when(F.col("rk") == 1, F.col("rev"))).alias("rev_a"),
            F.max(F.when(F.col("rk") == 1, F.col("qty"))).alias("qty_a"),
            F.max(F.when(F.col("rk") == 2, F.col("brand"))).alias("brand_b"),
            F.max(F.when(F.col("rk") == 2, F.col("rev"))).alias("rev_b"),
            F.max(F.when(F.col("rk") == 2, F.col("qty"))).alias("qty_b"),
        )
        .filter(
            (F.col("qty_a") > 0)
            & (F.col("qty_b") > 0)
            & (F.col("rev_a") > 0)
            & (F.col("rev_b") > 0)
        )
        .select(
            "brand_a",
            "brand_b",
            F.log(
                F.col("rev_a").cast("double") / F.col("qty_a").cast("double")
            ).alias("pa"),
            F.log(F.col("qty_b").cast("double")).alias("qb"),
            F.log(
                F.col("rev_b").cast("double") / F.col("qty_b").cast("double")
            ).alias("pb"),
            F.log(F.col("qty_a").cast("double")).alias("qa"),
        )
    )
    ab = ab.cache()  # ~|days| rows consumed by both union branches
    pairs = ab.select(
        F.col("brand_a").alias("price_brand"),
        F.col("brand_b").alias("demand_brand"),
        F.col("pa").alias("x"),
        F.col("qb").alias("y"),
    ).unionAll(
        ab.select(
            F.col("brand_b").alias("price_brand"),
            F.col("brand_a").alias("demand_brand"),
            F.col("pb").alias("x"),
            F.col("qa").alias("y"),
        )
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(18,9)"))
            .cast("double")
            .alias(name)
        )

    x, y = F.col("x"), F.col("y")
    m = pairs.groupBy("price_brand", "demand_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        fold(x, "sx"),
        fold(y, "sy"),
        fold(x * y, "sxy"),
        fold(x * x, "sxx"),
        fold(y * y, "syy"),
    )
    n = F.col("n_days").cast("double")
    sx, sy, sxy, sxx, syy = (
        F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx"), F.col("syy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        m.filter(
            ((n * sxx - sx * sx) != 0) & ((n * syy - sy * sy) != 0)
        )
        .select(
            "price_brand",
            "demand_brand",
            "n_days",
            F.round(slope, 6).alias("cross_elasticity"),
            F.round(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            ).alias("r2"),
            F.when(slope > 0, 1).otherwise(0).cast("bigint").alias(
                "is_substitute"
            ),
        )
        .orderBy("price_brand")
    )


# -- q_heckman_mills ---------------------------------------------------
#
# Heckman two-step sample-selection correction for customer spend:
# ln(total spend) is OBSERVED only for customers who ever order, so a
# naive OLS of spend on balance is conditioned on selection. Step 1
# estimates the selection propensity per balance bucket (exact
# empirical shares, clamped + 6-rounded), maps it through
# _normal.inv_phi to a probit index z, and forms the inverse Mills
# ratio λ = φ(z)/Φ(z) (φ literal-constant normal pdf, Φ =
# _normal.phi). Step 2 regresses y on [1, x, λ] via the closed-form
# 3×3 Cramer solve over 9-rounded decimal moment folds, reporting the
# naive slope, the corrected slope, the Mills coefficient and the bias
# shift. Scale: one
# customer∪orders scan per step; the bucket grid broadcasts back;
# the solve is 1-row algebra.

HECKMAN_SQL = f"""
WITH sel AS MATERIALIZED (
  SELECT c_custkey, c_acctbal,
         LEAST(GREATEST(CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT), -1), 9)
           AS bin,
         CASE WHEN o.k IS NULL THEN 0 ELSE 1 END AS s
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) o
    ON o.k = c_custkey
), bins AS (
  SELECT bin,
         round(LEAST(GREATEST(SUM(s) / CAST(COUNT(*) AS DOUBLE), 0.0001),
                     0.9999), 6) AS p
  FROM sel GROUP BY 1
), mills AS (
  SELECT bin, z,
         round(exp(-z * z / 2.0) / 2.506628274631
               / GREATEST({phi('z')}, 1e-12), 6) AS lam
  FROM (SELECT bin, round({inv_phi('p')}, 6) AS z FROM bins)
), spend AS (
  SELECT o_custkey AS cust,
         ln(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) AS y
  FROM orders GROUP BY 1
), rows_ AS (
  SELECT s.c_acctbal / 1000.0 AS x, m.lam AS l, sp.y
  FROM sel s
  JOIN spend sp ON sp.cust = s.c_custkey
  JOIN mills m ON m.bin = s.bin
  WHERE s.s = 1
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(l, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sl,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(x * l, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxl,
    CAST(SUM(CAST(round(l * l, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sll,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(l * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sly
  FROM rows_
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(s) AS BIGINT) AS n_selected
  FROM sel
), solve AS (
  SELECT n, sx, sl, sy, sxx, sxl, sll, sxy, sly,
         n * (sxx * sll - sxl * sxl)
         - sx * (sx * sll - sxl * sl)
         + sl * (sx * sxl - sxx * sl) AS deta
  FROM mom
)
SELECT t.n_customers, t.n_selected,
       round((s.n * s.sxy - s.sx * s.sy)
             / (s.n * s.sxx - s.sx * s.sx), 6) + 0.0 AS beta_x_naive,
       round((s.n * (s.sxy * s.sll - s.sxl * s.sly)
              - s.sy * (s.sx * s.sll - s.sxl * s.sl)
              + s.sl * (s.sx * s.sly - s.sxy * s.sl)) / s.deta, 6) + 0.0
         AS beta_x_heckman,
       round((s.n * (s.sxx * s.sly - s.sxy * s.sxl)
              - s.sx * (s.sx * s.sly - s.sxy * s.sl)
              + s.sy * (s.sx * s.sxl - s.sxx * s.sl)) / s.deta, 6) + 0.0
         AS beta_mills,
       round((s.n * (s.sxy * s.sll - s.sxl * s.sly)
              - s.sy * (s.sx * s.sll - s.sxl * s.sl)
              + s.sl * (s.sx * s.sly - s.sxy * s.sl)) / s.deta
             - (s.n * s.sxy - s.sx * s.sy)
               / (s.n * s.sxx - s.sx * s.sx), 6) + 0.0 AS bias_shift
FROM solve s CROSS JOIN tot t
WHERE s.deta <> 0 AND s.n * s.sxx - s.sx * s.sx <> 0
"""


@query("q_heckman_mills", oracle=HECKMAN_SQL)
def q_heckman_mills(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    sel = (
        c.customer.select("c_custkey", "c_acctbal")
        .join(
            c.orders.select(F.col("o_custkey").alias("k")).distinct(),
            F.col("k") == F.col("c_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            "c_acctbal",
            F.least(
                F.greatest(
                    F.floor(F.col("c_acctbal") / 1000.0).cast("bigint"),
                    F.lit(-1).cast("bigint"),
                ),
                F.lit(9).cast("bigint"),
            ).alias("bin"),
            F.when(F.col("k").isNull(), 0).otherwise(1).alias("s"),
        )
    )
    sel = sel.cache()  # feeds bins, the outcome rows AND the totals
    bins = sel.groupBy("bin").agg(
        F.round(
            F.least(
                F.greatest(
                    F.sum("s") / F.count(F.lit(1)).cast("double"),
                    F.lit(0.0001),
                ),
                F.lit(0.9999),
            ),
            6,
        ).alias("p")
    )
    z = F.round(inv_phi(F.col("p")), 6)
    zc = F.col("z")
    mills = bins.select("bin", z.alias("z")).select(
        "bin",
        "z",
        F.round(
            F.exp(-zc * zc / 2.0)
            / 2.506628274631
            / F.greatest(phi(zc), F.lit(1e-12)),
            6,
        ).alias("lam"),
    )
    spend = c.orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.log(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            )
        ).alias("y")
    )
    rows_ = (
        sel.filter(F.col("s") == 1)
        .join(spend, F.col("cust") == F.col("c_custkey"))
        .join(F.broadcast(mills), "bin")
        .select(
            (F.col("c_acctbal") / 1000.0).alias("x"),
            F.col("lam").alias("l"),
            "y",
        )
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(28,9)"))
            .cast("double")
            .alias(name)
        )

    x, l, y = F.col("x"), F.col("l"), F.col("y")
    mom = rows_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(x, "sx"),
        fold(l, "sl"),
        fold(y, "sy"),
        fold(x * x, "sxx"),
        fold(x * l, "sxl"),
        fold(l * l, "sll"),
        fold(x * y, "sxy"),
        fold(l * y, "sly"),
    )
    tot = sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("s").cast("bigint").alias("n_selected"),
    )
    n = F.col("n")
    sx, sl, sy = F.col("sx"), F.col("sl"), F.col("sy")
    sxx, sxl, sll = F.col("sxx"), F.col("sxl"), F.col("sll")
    sxy, sly = F.col("sxy"), F.col("sly")
    deta = (
        n * (sxx * sll - sxl * sxl)
        - sx * (sx * sll - sxl * sl)
        + sl * (sx * sxl - sxx * sl)
    )
    solve = mom.withColumn("deta", deta)
    bx_heck = (
        n * (sxy * sll - sxl * sly)
        - sy * (sx * sll - sxl * sl)
        + sl * (sx * sly - sxy * sl)
    ) / F.col("deta")
    b_mills = (
        n * (sxx * sly - sxy * sxl)
        - sx * (sx * sly - sxy * sl)
        + sy * (sx * sxl - sxx * sl)
    ) / F.col("deta")
    bx_naive = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        solve.filter(
            (F.col("deta") != 0) & ((n * sxx - sx * sx) != 0)
        )
        .join(F.broadcast(tot))
        .select(
            "n_customers",
            "n_selected",
            (F.round(bx_naive, 6) + 0.0).alias("beta_x_naive"),
            (F.round(bx_heck, 6) + 0.0).alias("beta_x_heckman"),
            (F.round(b_mills, 6) + 0.0).alias("beta_mills"),
            (F.round(bx_heck - bx_naive, 6) + 0.0).alias("bias_shift"),
        )
    )


# -- q_bid_rigging_screen ----------------------------------------------
#
# Competition-economics collusion screens over supplier "bids": each
# supplier's mean discounted unit price for a part is a bid, and for
# every part with ≥3 bidders the two standard screens run — the
# coefficient of variation (rigged markets show abnormally LOW price
# dispersion) and the relative distance (b₂−b₁)/b₁ between the two
# lowest bids (cover bids leave an abnormally LARGE gap). Flag = low
# CV (<0.05) AND high RD (>0.05), rolled up per brand. Two-pass exact
# variance at (part, supplier) then part grain (decimal folds,
# mean-join); b₁/b₂ via one ordered window with suppkey tie-breaks.
# Scale: everything shuffles on the natural partkey; no pair joins.

BID_SCREEN_SQL = """
WITH bids AS MATERIALIZED (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS bid
  FROM lineitem GROUP BY 1, 2
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 0
), pm AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_sup,
         CAST(SUM(CAST(round(bid, 6) AS DECIMAL(28,6))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM bids GROUP BY 1 HAVING COUNT(*) >= 3
), pv AS (
  SELECT b.pk, m.n_sup, m.mu,
         sqrt(CAST(SUM(CAST(round((b.bid - m.mu) * (b.bid - m.mu), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) / (m.n_sup - 1)) AS sd
  FROM bids b JOIN pm m ON b.pk = m.pk
  GROUP BY 1, 2, 3
), low2 AS (
  SELECT pk,
         MAX(CASE WHEN rn = 1 THEN bid END) AS b1,
         MAX(CASE WHEN rn = 2 THEN bid END) AS b2
  FROM (
    SELECT b.pk, b.bid,
           ROW_NUMBER() OVER (PARTITION BY b.pk
                              ORDER BY b.bid, b.sk) AS rn
    FROM bids b JOIN pm m ON b.pk = m.pk
  ) WHERE rn <= 2 GROUP BY 1
), screen AS (
  SELECT v.pk, v.n_sup,
         v.sd / v.mu AS cv,
         (l.b2 - l.b1) / l.b1 AS rd
  FROM pv v JOIN low2 l ON v.pk = l.pk
  WHERE v.mu > 0 AND l.b1 > 0 AND l.b2 IS NOT NULL
)
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts_screened,
       round(CAST(SUM(CAST(round(s.cv, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_cv,
       round(CAST(SUM(CAST(round(s.rd, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_rd,
       CAST(SUM(CASE WHEN s.cv < 0.05 AND s.rd > 0.05
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(SUM(CASE WHEN s.cv < 0.05 AND s.rd > 0.05
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS flag_rate
FROM screen s JOIN part p ON p.p_partkey = s.pk
GROUP BY 1
ORDER BY 1
"""


@query("q_bid_rigging_screen", oracle=BID_SCREEN_SQL)
def q_bid_rigging_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    li = spread(c.lineitem)  # heal the 1-partition scan pre-partial-agg
    bids = (
        li.groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revs"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qtys"),
        )
        .filter(F.col("qtys") > 0)
        .select(
            "pk", "sk",
            (F.col("revs") / F.col("qtys").cast("double")).alias("bid"),
        )
    )
    # Single-shuffle screen (r11): the per-part mean/sd/low-two-bids
    # all live inside one pk group, so ONE groupBy(pk) with
    # sort_array(collect_list(struct(bid, sk))) replaces the pm/pv
    # groupBys, the row_number window and their joins (4 shuffles of
    # the bids grid -> 1). The folds are the same decimal algebra —
    # aggregate() in DECIMAL(38,6) over round(·,6)::DECIMAL(28,6)
    # terms is exactly Spark's SUM over that column (both exact) —
    # and sort_array orders by (bid, sk), the window's key, so
    # b1/b2 = arr[0]/arr[1]. Arrays are bounded by suppliers-per-part
    # (~4 in this schema, SF-independent), never data-sized.
    g = (
        bids.groupBy("pk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("bid"), F.col("sk")))
            ).alias("arr")
        )
        .filter(F.size("arr") >= 3)
    )
    n_sup = F.size("arr").cast("bigint")
    dsum6 = (
        "CAST(aggregate(arr, CAST(0 AS DECIMAL(38,6)), "
        "(acc, e) -> acc + CAST(round({term}, 6) AS DECIMAL(28,6))) "
        "AS DOUBLE)"
    )
    g2 = g.select(
        "pk",
        n_sup.alias("n_sup"),
        (F.expr(dsum6.format(term="e.bid")) / n_sup).alias("mu"),
        F.col("arr")[0]["bid"].alias("b1"),
        F.col("arr")[1]["bid"].alias("b2"),
        "arr",
    )
    g3 = g2.select(
        "pk", "n_sup", "mu", "b1", "b2",
        F.sqrt(
            F.expr(dsum6.format(term="(e.bid - mu) * (e.bid - mu)"))
            / (F.col("n_sup") - 1)
        ).alias("sd"),
    )
    screen = g3.filter(
        (F.col("mu") > 0) & (F.col("b1") > 0) & F.col("b2").isNotNull()
    ).select(
        "pk",
        "n_sup",
        (F.col("sd") / F.col("mu")).alias("cv"),
        ((F.col("b2") - F.col("b1")) / F.col("b1")).alias("rd"),
    )
    cv, rd = F.col("cv"), F.col("rd")
    flag = F.when((cv < 0.05) & (rd > 0.05), 1).otherwise(0)

    def dmean6(expr, name):
        return F.round(
            F.sum(F.round(expr, 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(name)

    return (
        screen.join(
            F.broadcast(
                c.part.select(
                    F.col("p_partkey").alias("pk"), "p_brand"
                )
            ),
            "pk",
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts_screened"),
            dmean6(cv, "mean_cv"),
            dmean6(rd, "mean_rd"),
            F.sum(flag).cast("bigint").alias("n_flagged"),
            F.round(
                F.sum(flag) / F.count(F.lit(1)).cast("double"), 6
            ).alias("flag_rate"),
        )
        .orderBy("brand")
    )


# -- q_optimal_reserve -------------------------------------------------
#
# Optimal reserve price for a second-price auction, estimated
# nonparametrically from observed "bids" (per-part supplier mean unit
# prices, taking the two HIGHEST per part with >=2 bidders): for each
# of 20 candidate reserves (exact 5%-step order statistics of the b1
# distribution, integer-rank thresholds) expected seller revenue per
# auction is mean(b2 if b2 >= r; r if b1 >= r > b2; 0 if r > b1) —
# the Myerson trade-off made empirical. EVERY bid, threshold and
# revenue term lives in EXACT BIGINT MICRO-DOLLARS
# (cents x (100 - discount%) line folds, integer div by quantity
# units): round(double) never appears in a fold or comparison, which
# this round's cross-engine probe showed is the only fully portable
# arithmetic for division-derived prices (Spark rounds the shortest
# repr, DuckDB the binary value). The candidate x auction grid is a
# bounded 20x broadcast expansion, NOT a data x data join. Optimal
# row flagged with (revenue DESC, reserve ASC) ties. Scale: one
# lineitem scan -> per-part b1/b2 via one window -> 20-candidate grid
# algebra.

RESERVE_SQL = """
WITH bids AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         (SUM(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
              * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
          * 10000)
         // SUM(CAST(round(l_quantity * 100.0, 0) AS BIGINT)) AS bidm
  FROM lineitem GROUP BY 1, 2
  HAVING SUM(CAST(round(l_quantity * 100.0, 0) AS BIGINT)) > 0
), top2 AS MATERIALIZED (
  SELECT pk,
         MAX(CASE WHEN rn = 1 THEN bidm END) AS b1,
         MAX(CASE WHEN rn = 2 THEN bidm END) AS b2
  FROM (
    SELECT pk, bidm,
           ROW_NUMBER() OVER (PARTITION BY pk
                              ORDER BY bidm DESC, sk) AS rn,
           COUNT(*) OVER (PARTITION BY pk) AS ns
    FROM bids
  ) WHERE rn <= 2 AND ns >= 2 GROUP BY 1
), ranked AS (
  SELECT b1, ROW_NUMBER() OVER (ORDER BY b1, pk) AS r,
         COUNT(*) OVER () AS n
  FROM top2
), cand AS MATERIALIZED (
  SELECT g.q AS q_idx, MAX(rk.b1) AS reserve
  FROM ranked rk
  JOIN (SELECT UNNEST(generate_series(1, 20)) AS q) g
    ON rk.r = GREATEST((rk.n * g.q) // 20, 1)
  GROUP BY 1
), rev AS (
  SELECT c.q_idx, c.reserve,
         CAST(COUNT(*) AS BIGINT) AS n_auctions,
         CAST(SUM(CASE WHEN t.b2 >= c.reserve THEN 1
                       WHEN t.b1 >= c.reserve THEN 1 ELSE 0 END)
              AS BIGINT) AS n_sold,
         CAST(SUM(CASE WHEN t.b2 >= c.reserve THEN t.b2
                       WHEN t.b1 >= c.reserve THEN c.reserve
                       ELSE 0 END) AS BIGINT) AS total_micro
  FROM top2 t CROSS JOIN cand c
  GROUP BY 1, 2
), scored AS (
  SELECT q_idx, reserve, n_auctions, n_sold,
         round(n_sold / CAST(n_auctions AS DOUBLE), 6) AS sold_rate,
         round(total_micro / 1000000.0 / n_auctions, 6)
           AS rev_per_auction,
         ROW_NUMBER() OVER (ORDER BY total_micro * 1.0 / n_auctions DESC,
                            reserve ASC) AS opt_rank
  FROM rev
)
SELECT CAST(q_idx AS BIGINT) AS pctile_step,
       round(reserve / 1000000.0, 6) AS reserve,
       n_auctions, n_sold, sold_rate, rev_per_auction,
       CAST(CASE WHEN opt_rank = 1 THEN 1 ELSE 0 END AS INT) AS is_optimal
FROM scored
ORDER BY pctile_step
"""


@query("q_optimal_reserve", oracle=RESERVE_SQL)
def q_optimal_reserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
    dpct = F.round(F.col("l_discount") * 100.0, 0).cast("bigint")
    qunits = F.round(F.col("l_quantity") * 100.0, 0).cast("bigint")
    bids = (
        c.lineitem.groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(
            F.sum(cents * (100 - dpct)).alias("rev4"),
            F.sum(qunits).alias("q2"),
        )
        .filter(F.col("q2") > 0)
        .select("pk", "sk", F.expr("(rev4 * 10000) div q2").alias("bidm"))
    )
    wp = Window.partitionBy("pk")
    ranked0 = bids.select(
        "pk",
        "bidm",
        F.row_number().over(wp.orderBy(F.desc("bidm"), "sk")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("ns"),
    )
    top2 = (
        ranked0.filter((F.col("rn") <= 2) & (F.col("ns") >= 2))
        .groupBy("pk")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("bidm"))).alias("b1"),
            F.max(F.when(F.col("rn") == 2, F.col("bidm"))).alias("b2"),
        )
    )
    top2 = top2.cache()  # auction grid feeds candidates AND revenue scan
    # |auctions| = |parts with >=2 suppliers| scales with the data
    # (20k rows crossed the old global rank + global-count singletons
    # at sf0.1): TWO-PHASE global row_number over floor(b1/2^24)
    # buckets (b1 is a bounded-domain unit price in micro-cents), and
    # the total as a broadcast 1-row aggregate instead of a
    # count-over-empty-window data funnel.
    n_tot = top2.agg(F.count(F.lit(1)).alias("n"))
    ranked = two_phase_row_number(
        top2, ["b1", "pk"],
        F.floor(F.col("b1") / (1 << 24)).cast("bigint"), out="r",
    ).select("b1", "r").join(F.broadcast(n_tot))
    qs = spark.range(1, 21).select(F.col("id").alias("q"))
    cand = (
        ranked.join(
            F.broadcast(qs),
            F.col("r")
            == F.greatest(
                F.expr("(n * q) div 20"), F.lit(1).cast("bigint")
            ),
        )
        .groupBy(F.col("q").alias("q_idx"))
        .agg(F.max("b1").alias("reserve"))
    )
    t_b1, t_b2, res = F.col("b1"), F.col("b2"), F.col("reserve")
    sold = F.when(t_b2 >= res, 1).when(t_b1 >= res, 1).otherwise(0)
    price = (
        F.when(t_b2 >= res, t_b2)
        .when(t_b1 >= res, res)
        .otherwise(F.lit(0).cast("bigint"))
    )
    rev = (
        top2.join(F.broadcast(cand))
        .groupBy("q_idx", "reserve")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_auctions"),
            F.sum(sold).cast("bigint").alias("n_sold"),
            F.sum(price).cast("bigint").alias("total_micro"),
        )
    )
    scored = rev.select(
        "q_idx",
        "reserve",
        "n_auctions",
        "n_sold",
        F.round(
            F.col("n_sold") / F.col("n_auctions").cast("double"), 6
        ).alias("sold_rate"),
        F.round(
            F.col("total_micro") / 1000000.0 / F.col("n_auctions"), 6
        ).alias("rev_per_auction"),
        F.col("total_micro"),
    ).withColumn(
        "opt_rank",
        F.row_number().over(
            Window.orderBy(
                (F.col("total_micro") * 1.0 / F.col("n_auctions")).desc(),
                F.asc("reserve"),
            )
        ),
    )
    return (
        scored.select(
            F.col("q_idx").cast("bigint").alias("pctile_step"),
            F.round(F.col("reserve") / 1000000.0, 6).alias("reserve"),
            "n_auctions",
            "n_sold",
            "sold_rate",
            "rev_per_auction",
            F.when(F.col("opt_rank") == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_optimal"),
        )
        .orderBy("pctile_step")
    )


# -- q_price_recommendation --------------------------------------------
#
# Price recommendation from estimated own-price elasticity: the
# constant-elasticity monopoly rule p* = c/(1 + 1/e) (Lerner index
# (p−c)/p = −1/e) applied per brand with a 60%-of-price unit-cost
# proxy — the decision layer on top of q_elasticity's measurement
# (elastic brands get a concrete reprice; inelastic brands are
# flagged no-interior-optimum). Elasticity comes from the identical
# 9-rounded log-domain moment folds; current price and cost are
# EXACT BIGINT micro-dollars (the portable-arithmetic discipline),
# so every reported level is boundary-free; p* itself is a
# high-entropy double chain safe to round. Scale: one lineitem⋈part
# scan folds both the log moments and the micro-unit totals.

PRICE_REC_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
         ln(CAST(l_quantity AS DOUBLE)) AS y,
         ln(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)
            * (1.0 - CAST(l_discount AS DOUBLE))) AS x,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)) AS rev4,
         CAST(round(l_quantity * 100.0, 0) AS BIGINT) AS q2
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_discount < 1.0
), m AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
    (SUM(rev4) * 10000) // SUM(q2) AS price_micro
  FROM li GROUP BY 1
), e AS (
  SELECT brand, n, price_micro,
         (price_micro * 6) // 10 AS cost_micro,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS elast
  FROM m WHERE n * sxx - sx * sx <> 0
)
SELECT brand, n,
       round(elast, 6) AS elasticity,
       round(price_micro / 1000000.0, 6) AS avg_price,
       round(cost_micro / 1000000.0, 6) AS cost_assumed,
       round(CASE WHEN elast < -1.0 THEN
               (cost_micro / 1000000.0) / (1.0 + 1.0 / elast) END, 6)
         AS optimal_price,
       round(CASE WHEN elast < -1.0 THEN
               ((cost_micro / 1000000.0) / (1.0 + 1.0 / elast)
                - price_micro / 1000000.0)
               / (price_micro / 1000000.0) END, 6) AS change_pct,
       CAST(CASE WHEN elast < -1.0 THEN 1 ELSE 0 END AS INT) AS is_elastic
FROM e
ORDER BY brand
"""


@query("q_price_recommendation", oracle=PRICE_REC_SQL)
def q_price_recommendation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    li = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(
            (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & (F.col("l_discount") < 1.0)
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity").cast("double")).alias("y"),
            F.log(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double")
                * (1.0 - F.col("l_discount").cast("double"))
            ).alias("x"),
            (
                F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
                * (
                    100
                    - F.round(F.col("l_discount") * 100.0, 0).cast(
                        "bigint"
                    )
                )
            ).alias("rev4"),
            F.round(F.col("l_quantity") * 100.0, 0)
            .cast("bigint")
            .alias("q2"),
        )
    )
    # same single-file-scan heal as q_elasticity: the 2-ln + bigint
    # per-row math dominates, not the scan
    li = spread(li)

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(18,9)"))
            .cast("double")
            .alias(name)
        )

    x, y = F.col("x"), F.col("y")
    m = li.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(x, "sx"),
        fold(y, "sy"),
        fold(x * y, "sxy"),
        fold(x * x, "sxx"),
        F.expr("(sum(rev4) * 10000) div sum(q2)").alias("price_micro"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    e = (
        m.filter((n * sxx - sx * sx) != 0)
        .withColumn("cost_micro", F.expr("(price_micro * 6) div 10"))
        .withColumn(
            "elast", (n * sxy - sx * sy) / (n * sxx - sx * sx)
        )
    )
    el = F.col("elast")
    price = F.col("price_micro") / 1000000.0
    cost = F.col("cost_micro") / 1000000.0
    pstar = cost / (1.0 + 1.0 / el)
    return e.select(
        "brand",
        "n",
        F.round(el, 6).alias("elasticity"),
        F.round(price, 6).alias("avg_price"),
        F.round(cost, 6).alias("cost_assumed"),
        F.round(F.when(el < -1.0, pstar), 6).alias("optimal_price"),
        F.round(F.when(el < -1.0, (pstar - price) / price), 6).alias(
            "change_pct"
        ),
        F.when(el < -1.0, 1).otherwise(0).cast("int").alias("is_elastic"),
    ).orderBy("brand")
