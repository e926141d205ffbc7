"""Round-8 wave-16 additions: the trend-inference and
forecast-verification members —

* Mann-Kendall trend test over daily revenue — the significance
  companion of theil_sen_trend (Theil-Sen gives the robust SLOPE;
  Mann-Kendall tests whether a monotone trend EXISTS at all), exact
  integer S with the full tie-corrected variance;
* Wald-Wolfowitz runs test over daily up/down moves — the
  randomness/streakiness diagnostic (acf tests linear memory; runs
  detect sign-level streaks that autocorrelation can miss), exact
  integer run counts;
* Brier-score Murphy decomposition of a binned conversion predictor —
  reliability / resolution / uncertainty on an md5-held-out test half
  (ece_calibration_eval scores calibration alone; Murphy's identity
  splits the full probabilistic-forecast loss into calibration AND
  discrimination, the standard forecast-verification readout).

House rules as in round8..round12_queries: scalar outputs, counts as
long, floor-form integer scalings, integer division only on
non-negative operands, decimal(38,0)/HUGEINT for wide products, no
runtime transcendentals, fixed-shape floor(1e6·expr) doubles for
irreducibly real-valued statistics (the did_e6 precedent — per-bin
terms floored BEFORE summation so accumulation order can't diverge),
NULLs excluded by mirrored filters, degenerate cells via mirrored
CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..operators.sampling import hash_bucket
from ..session import load_table

# --- Mann-Kendall trend test over daily revenue ----------------------------------

#: two-sided α = 0.05 normal critical value, e6-scaled plan literal
MK_CRIT_E6 = 1_959_964


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test over the daily purchase-revenue
    series: S = Σ_{i<j} sign(x_j − x_i) over all day pairs, with the
    tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)]/18 and the continuity-corrected z. The
    significance companion of theil_sen_trend: Theil-Sen estimates the
    robust slope; this tests whether ANY monotone trend exists —
    distribution-free, the standard pre-gate before quoting a slope.

    Exactness: daily revenues are exact cents; S and both variance
    terms are exact integers (the t-group cubic rides
    decimal(38,0)/HUGEINT); z is one fixed-shape sqrt/divide over
    exact-integer-valued doubles with the ±1 continuity correction
    split by mirrored CASE, floored at e6. Degenerate (n < 2, or zero
    variance — the all-ties mirror) emits NULL z via mirrored CASE.

    Scale shape: one (day) aggregate off the scan; the pair frame is
    |days|² — calendar-bounded by construction (the theil_sen banded
    pair-frame justification), broadcast nested-loop by design
    (whitelisted)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_x")
    )
    a = daily.select(F.col("_day").alias("_da"), F.col("_x").alias("_xa"))
    b = daily.select(F.col("_day").alias("_db"), F.col("_x").alias("_xb"))
    pairs = a.join(F.broadcast(b), F.col("_da") < F.col("_db"))
    s_agg = pairs.agg(
        F.sum(
            F.when(F.col("_xb") > F.col("_xa"), 1)
            .when(F.col("_xb") < F.col("_xa"), -1)
            .otherwise(0)
        ).alias("_s")
    )
    ties = daily.groupBy("_x").agg(F.count(F.lit(1)).alias("_t"))
    tagg = ties.agg(
        F.sum("_t").alias("_n"),
        F.sum(
            F.col("_t").cast("decimal(38,0)") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
        ).alias("_tc"),
    )
    both = s_agg.crossJoin(F.broadcast(tagg))
    var18 = (
        "CAST(_n AS DECIMAL(38,0)) * (_n - 1) * (2 * _n + 5) - _tc"
    )
    z = (
        f"CASE WHEN _n >= 2 AND ({var18}) > 0 THEN"
        " CASE WHEN _s > 0 THEN"
        f"   floor(1000000.0 * (_s - 1) / sqrt(CAST({var18} AS DOUBLE) / 18.0))"
        " WHEN _s < 0 THEN"
        f"   floor(1000000.0 * (_s + 1) / sqrt(CAST({var18} AS DOUBLE) / 18.0))"
        " ELSE 0 END END"
    )
    # z computed ONCE; the significance flag derives from the column (a
    # review catch: the first form re-interpolated the full z expression
    # into the flag, three copies per engine — one future variance edit
    # away from the statistic and its flag silently disagreeing)
    staged = both.select(
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_days"),
        F.col("_s").cast("long").alias("s_stat"),
        F.expr(f"CAST({var18} AS BIGINT)").alias("var_s_x18"),
        F.expr(f"CAST({z} AS BIGINT)").alias("z_e6"),
    )
    return staged.select(
        "n_days",
        "s_stat",
        "var_s_x18",
        "z_e6",
        F.when(
            F.col("z_e6").isNotNull(),
            F.when(F.abs(F.col("z_e6")) >= MK_CRIT_E6, 1).otherwise(0),
        )
        .cast("long")
        .alias("trend_significant"),
    )


MANN_KENDALL_SQL = f"""
WITH daily AS (
  SELECT ts::DATE AS day, sum({CENTS_SQL.format(x="value")}) AS x
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND value >= 0
        AND ts IS NOT NULL
  GROUP BY 1
),
s_agg AS (
  SELECT sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
  FROM daily a JOIN daily b ON a.day < b.day
),
ties AS (SELECT x, count(*) AS t FROM daily GROUP BY 1),
tagg AS (
  SELECT sum(t) AS n,
         sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tc
  FROM ties
),
mk AS (
  SELECT n, s, CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tc AS var18
  FROM s_agg CROSS JOIN tagg
),
-- z computed ONCE (mirrors the Spark staged select); the significance
-- flag derives from this column
zc AS (
  SELECT n, s, var18,
         CASE WHEN n >= 2 AND var18 > 0 THEN
           CASE WHEN s > 0 THEN
             floor(1000000.0 * (s - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0))
           WHEN s < 0 THEN
             floor(1000000.0 * (s + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0))
           ELSE 0 END END AS z
  FROM mk
)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS s_stat,
       CAST(var18 AS BIGINT) AS var_s_x18,
       CAST(z AS BIGINT) AS z_e6,
       CAST(CASE WHEN z IS NOT NULL THEN
              CASE WHEN abs(z) >= {MK_CRIT_E6} THEN 1 ELSE 0 END
            END AS BIGINT) AS trend_significant
FROM zc
"""


# --- Wald-Wolfowitz runs test over daily up/down moves ---------------------------


def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test over the SIGNS of day-over-day revenue
    changes: count the runs of consecutive up/down moves and compare
    against the exact randomness expectation E[R] = 1 + 2·n₁n₂/n,
    Var[R] = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)). The streakiness diagnostic
    acf_daily_revenue can miss: autocorrelation is linear, runs are
    sign-level (a series can be uncorrelated yet streak-heavy).
    Zero deltas carry no sign and are DISCARDED (the standard
    treatment, documented) — mirrored in both engines.

    Exactness: signs, run boundaries and all counts are exact integers
    (a run starts where the sign differs from the previous sign — one
    lag window over the day frame); z is one fixed-shape expression
    over exact-integer-valued doubles floored at e6. Degenerate
    (n₁ = 0 or n₂ = 0, or n < 2) emits NULL via mirrored CASE.

    Scale shape: one (day) aggregate off the scan; both lag windows
    and the run count ride the calendar-bounded day frame (the
    cusum/sprt justification)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_x")
    )
    w = Window.orderBy("_day")
    signs = (
        daily.select(
            "_day", (F.col("_x") - F.lag("_x").over(w)).alias("_d")
        )
        .filter(F.col("_d").isNotNull() & (F.col("_d") != 0))
        .select("_day", F.when(F.col("_d") > 0, 1).otherwise(-1).alias("_sgn"))
    )
    runs = signs.select(
        "_sgn",
        F.when(
            F.lag("_sgn").over(Window.orderBy("_day")).isNull()
            | (F.lag("_sgn").over(Window.orderBy("_day")) != F.col("_sgn")),
            1,
        )
        .otherwise(0)
        .alias("_new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("_sgn") == 1, 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col("_sgn") == -1, 1).otherwise(0)).alias("_n2"),
        F.sum("_new_run").alias("_r"),
    )
    ok = "_n1 >= 1 AND _n2 >= 1 AND _n1 + _n2 >= 2"
    # E[R] and Var[R] over exact integers; 2·n1·n2 rides decimal(38,0)
    tt = "2 * CAST(_n1 AS DECIMAL(38,0)) * _n2"
    z = (
        f"CASE WHEN {ok} AND CAST({tt} AS DOUBLE) * (CAST({tt} AS DOUBLE)"
        " - (_n1 + _n2)) > 0 THEN"
        f" floor(1000000.0 * (_r - (1.0 + CAST({tt} AS DOUBLE) / (_n1 + _n2)))"
        f" / sqrt(CAST({tt} AS DOUBLE) * (CAST({tt} AS DOUBLE) - (_n1 + _n2))"
        " / (CAST(_n1 + _n2 AS DOUBLE) * (_n1 + _n2) * (_n1 + _n2 - 1))))"
        " END"
    )
    return agg.select(
        F.col("_n1").cast("long").alias("n_up"),
        F.col("_n2").cast("long").alias("n_down"),
        F.col("_r").cast("long").alias("n_runs"),
        F.expr(f"CAST({z} AS BIGINT)").alias("z_e6"),
    )


RUNS_TEST_SQL = f"""
WITH daily AS (
  SELECT ts::DATE AS day, sum({CENTS_SQL.format(x="value")}) AS x
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND value >= 0
        AND ts IS NOT NULL
  GROUP BY 1
),
signs AS (
  SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
  FROM (SELECT day, x - lag(x) OVER (ORDER BY day) AS d FROM daily)
  WHERE d IS NOT NULL AND d <> 0
),
runs AS (
  SELECT sgn,
         CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                   OR lag(sgn) OVER (ORDER BY day) <> sgn
              THEN 1 ELSE 0 END AS new_run
  FROM signs
),
agg AS (
  SELECT sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n2,
         sum(new_run) AS r
  FROM runs
)
SELECT CAST(n1 AS BIGINT) AS n_up,
       CAST(n2 AS BIGINT) AS n_down,
       CAST(r AS BIGINT) AS n_runs,
       CAST(CASE WHEN n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 2
                      AND CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                          * (CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                             - (n1 + n2)) > 0 THEN
         floor(1000000.0
               * (r - (1.0 + CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                             / (n1 + n2)))
               / sqrt(CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                      * (CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                         - (n1 + n2))
                      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                         * (n1 + n2 - 1))))
       END AS BIGINT) AS z_e6
FROM agg
"""


# --- Brier-score Murphy decomposition of a binned conversion predictor -----------

# conversion definition shared with ab_test_zscore / group_sequential_obf /
# ab_power_mde — ONE constant, strict `>` (a review catch: a first copy
# here used `>=`, silently scoring the boundary purchase differently
# from the rest of the experiment suite)
from .round9_queries import GSQ_CONV_MIN as BRIER_CONV_MIN


def brier_decomposition_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a binned conversion
    predictor: users bin by activity (ilog2 of event count — the
    ipw_ate stratification); the predictor is each bin's TRAIN-half
    conversion rate; the TEST half scores it. Reports the mean Brier
    score and its Murphy split — reliability (calibration error),
    resolution (discrimination), uncertainty (base-rate entropy) —
    the standard probabilistic-forecast verification
    ece_calibration_eval's single calibration number can't provide
    (a predictor can be perfectly calibrated yet useless; resolution
    is what separates them).

    Exactness: per-bin (m, s, n, k) are exact integers; every per-bin
    term (Brier, reliability, resolution) is a fixed-shape
    floor(1e6·expr) double over those integers, FLOORED BEFORE the
    cross-bin sum so accumulation order can't diverge (the logrank
    precedent); the final means divide the floored-integer sums by the
    scored-test count in one fixed-shape expression. Test bins whose
    score region was unseen in training have no prediction: excluded
    from every sum AND counted in ``n_test_unscored`` (the ECE
    reported-not-dropped rule). Empty test half emits NULLs via
    mirrored CASE.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle); both halves collapse to ≤ ~40 ilog2-bin frames; the
    train-test join, the base-rate window and the final roll-up are
    all grid-bounded (the ipw/isotonic justification)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nev"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull()
                & (F.col("value") > BRIER_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("_y"),
    ).select(
        F.expr("CAST(length(bin(_nev)) - 1 AS BIGINT)").alias("_bin"),
        "_y",
        hash_bucket(F.col("user_id"), "brier", 2).alias("_h"),
    )
    tr = users.filter(F.col("_h") == 0).groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_m"), F.sum("_y").alias("_s")
    )
    te = users.filter(F.col("_h") == 1).groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_k")
    )
    j = te.join(tr, "_bin", "left")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # scored totals (bins WITH a train fit) for the base rate
    scored_n = F.sum(F.when(F.col("_m").isNotNull(), F.col("_n"))).over(w_all)
    scored_k = F.sum(F.when(F.col("_m").isNotNull(), F.col("_k"))).over(w_all)
    jj = j.select(
        "_bin", "_n", "_k", "_m", "_s",
        scored_n.alias("_tn"),
        scored_k.alias("_tk"),
    )
    p = "CAST(_s AS DOUBLE) / _m"
    o = "CAST(_k AS DOUBLE) / _n"
    obar = "CAST(_tk AS DOUBLE) / _tn"
    brier_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" (_n * ({p}) * ({p}) - 2 * ({p}) * _k + _k)) AS BIGINT) END"
    )
    rel_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" _n * (({p}) - ({o})) * (({p}) - ({o}))) AS BIGINT) END"
    )
    res_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" _n * (({o}) - ({obar})) * (({o}) - ({obar}))) AS BIGINT) END"
    )
    terms = jj.select(
        "_bin", "_n", "_k", "_m", "_tn", "_tk",
        F.expr(brier_t).alias("_bt"),
        F.expr(rel_t).alias("_rt"),
        F.expr(res_t).alias("_st"),
    )
    agg = terms.agg(
        F.max("_tn").alias("_tn"),
        F.max("_tk").alias("_tk"),
        F.sum(F.when(F.col("_m").isNull(), F.col("_n")).otherwise(0)).alias(
            "_unscored"
        ),
        F.sum("_bt").alias("_bsum"),
        F.sum("_rt").alias("_rsum"),
        F.sum("_st").alias("_ssum"),
    )
    mean = "CAST(floor(CAST({x} AS DOUBLE) / _tn) AS BIGINT)"
    return agg.select(
        F.coalesce(F.col("_tn"), F.lit(0)).cast("long").alias("n_test_scored"),
        F.coalesce(F.col("_unscored"), F.lit(0)).cast("long").alias(
            "n_test_unscored"
        ),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_bsum')} END"
        ).alias("brier_e6"),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_rsum')} END"
        ).alias("reliability_e6"),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_ssum')} END"
        ).alias("resolution_e6"),
        F.expr(
            "CASE WHEN _tn > 0 THEN CAST(floor(1000000.0"
            " * (CAST(_tk AS DOUBLE) / _tn)"
            " * (1.0 - CAST(_tk AS DOUBLE) / _tn)) AS BIGINT) END"
        ).alias("uncertainty_e6"),
    )


BRIER_SQL = f"""
WITH users AS (
  SELECT CAST(length(bin(count(*))) - 1 AS BIGINT) AS bin,
         max(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                       AND value > {BRIER_CONV_MIN} THEN 1 ELSE 0 END) AS y,
         ('0x' || substr(md5(user_id::VARCHAR || 'brier'), 1, 8))::BIGINT
           % 10000 % 2 AS h
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
tr AS (SELECT bin, count(*) AS m, sum(y) AS s FROM users WHERE h = 0 GROUP BY 1),
te AS (SELECT bin, count(*) AS n, sum(y) AS k FROM users WHERE h = 1 GROUP BY 1),
j AS (
  SELECT te.bin, te.n, te.k, tr.m, tr.s FROM te LEFT JOIN tr USING (bin)
),
jj AS (
  SELECT *,
         sum(CASE WHEN m IS NOT NULL THEN n END) OVER () AS tn,
         sum(CASE WHEN m IS NOT NULL THEN k END) OVER () AS tk
  FROM j
),
terms AS (
  SELECT *,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           (n * (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m)
            - 2 * (CAST(s AS DOUBLE) / m) * k + k)) AS BIGINT) END AS bt,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           n * ((CAST(s AS DOUBLE) / m) - (CAST(k AS DOUBLE) / n))
             * ((CAST(s AS DOUBLE) / m) - (CAST(k AS DOUBLE) / n)))
           AS BIGINT) END AS rt,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           n * ((CAST(k AS DOUBLE) / n) - (CAST(tk AS DOUBLE) / tn))
             * ((CAST(k AS DOUBLE) / n) - (CAST(tk AS DOUBLE) / tn)))
           AS BIGINT) END AS st
  FROM jj
),
agg AS (
  SELECT max(tn) AS tn, max(tk) AS tk,
         sum(CASE WHEN m IS NULL THEN n ELSE 0 END) AS unscored,
         sum(bt) AS bsum, sum(rt) AS rsum, sum(st) AS ssum
  FROM terms
)
SELECT CAST(coalesce(tn, 0) AS BIGINT) AS n_test_scored,
       CAST(coalesce(unscored, 0) AS BIGINT) AS n_test_unscored,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(bsum AS DOUBLE) / tn) AS BIGINT) END AS brier_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(rsum AS DOUBLE) / tn) AS BIGINT) END AS reliability_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(ssum AS DOUBLE) / tn) AS BIGINT) END AS resolution_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(1000000.0 * (CAST(tk AS DOUBLE) / tn)
              * (1.0 - CAST(tk AS DOUBLE) / tn)) AS BIGINT) END
         AS uncertainty_e6
FROM agg
"""


# --- bounded k-core of the part co-purchase graph --------------------------------

#: core threshold — below the co-purchase graph's degree p75 so peeling
#: is non-trivial at the tested SFs (measured: 1857/2000 nodes survive
#: at sf0.01, 18863/20000 at sf0.1, fixpoint in <= 7 rounds)
KCORE_K = 80
#: peel-round bound, part of the operator contract (the PageRank
#: fixed-iteration precedent); fixpoint measured well inside it
KCORE_PEELS = 10


def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core of the part co-purchase graph (parts adjacent
    when some order contains both — the triangle-count graph): peel
    edges whose endpoints have degree < k for at most KCORE_PEELS
    rounds and report the surviving core as a DEGREE HISTOGRAM
    (core_degree, n_nodes). The fourth classic graph kernel next to
    PageRank, connected components and triangles: the k-core is the
    standard dense-subgraph / influence-backbone extractor, and its
    peeling is the canonical iterative-until-fixpoint graph workload
    (here bounded — the documented-cap rule — with early exit when a
    round removes nothing, which leaves the result equal to the
    fixed-round definition).

    Exactness: pure integer degree counting end to end; the peel is a
    deterministic function of (graph, k, rounds), replayed by Spark as
    a driver loop over degree windows (operators/graph.kcore_edges)
    and by DuckDB as a recursive CTE whose per-round state is filtered
    by the SAME two degree windows — single recursive reference, no
    aggregate-in-recursion needed.

    Scale shape: the distinct (order, part) projection and the
    co-purchase self-join are the data-sized work (bounded per order
    by basket size — the basket_part_pairs justification); each peel
    round is two degree windows over the shrinking edge set,
    O(KCORE_PEELS) shuffles total (the PageRank iterative-kernel
    justification); output is a degree histogram, bounded by the
    degree range."""
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk")
    ).distinct()
    x, y = op.alias("x"), op.alias("y")
    pairs = x.join(
        y, (F.col("x._ok") == F.col("y._ok")) & (F.col("x._pk") < F.col("y._pk"))
    ).select(F.col("x._pk").alias("src"), F.col("y._pk").alias("dst")).distinct()
    und = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = graph.kcore_edges(und, KCORE_K, KCORE_PEELS)
    hist = (
        core.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .groupBy(F.col("_d").cast("long").alias("core_degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    # Cache ownership (kcore_edges contract): materialize the BOUNDED
    # degree histogram (rows <= the degree range, a few hundred) as an
    # eager localCheckpoint while the final round's cache is hot, then
    # release the doubled-edge blocks — otherwise they stay resident for
    # the rest of the session (the bench driver runs 300+ queries in
    # one). The leaked checkpoint blocks are the histogram only.
    out = hist.localCheckpoint(eager=True)
    core.unpersist(blocking=False)
    return out


KCORE_SQL = f"""
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
),
und AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
peel(iter, src, dst) AS (
  SELECT 0, src, dst FROM und
  UNION ALL
  SELECT iter + 1, src, dst FROM (
    SELECT iter, src, dst,
           count(*) OVER (PARTITION BY src) AS ds,
           count(*) OVER (PARTITION BY dst) AS dd
    FROM peel
  ) WHERE ds >= {KCORE_K} AND dd >= {KCORE_K} AND iter < {KCORE_PEELS}
),
core AS (SELECT src FROM peel WHERE iter = {KCORE_PEELS}),
deg AS (SELECT src, count(*) AS d FROM core GROUP BY 1)
SELECT CAST(d AS BIGINT) AS core_degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
"""
