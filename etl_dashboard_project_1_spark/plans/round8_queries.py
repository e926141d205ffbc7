"""Round-7 wave-8 additions (registered during round 7, checked in the
r7 window's backfill slots): the analysis families the engine still
lacked —

* causal inference: a difference-in-differences cohort readout
  (completing the experimentation suite: z-test → SPRT → Mann-Whitney
  → CUPED → DiD);
* survival analysis: the Nelson-Aalen cumulative-hazard estimator over
  user lifetimes (exact — a SUM of floored rational hazard steps,
  unlike Kaplan-Meier's product form which would need a runtime log);
* time-series diagnostics: autocorrelation of daily revenue at lags
  1..7 plus the cumulative Ljung-Box portmanteau statistic;
* an exact Gini-impurity decision stump (best single-threshold split),
  the classical feature-screening primitive;
* privacy: an l-diversity audit (the sensitive-attribute companion of
  k_anonymity_audit);
* two classical entity-resolution blocking strategies the dedup suite
  didn't cover: edit-distance (Levenshtein) matching under
  deterministic blocking, and the sorted-neighborhood method;
* LLM-batching economics: power-of-two padding-waste audit;
* tokenizer fertility (chars per token, per language);
* Gopher-style intra-document repetition ratios (duplicate 1/2/3-gram
  fractions) — the within-doc counterpart of the cross-doc novelty and
  dedup operators.

House rules (see oracle_harness / driver canon): scalar outputs only,
counts cast to long, ratios as floor-form integer scalings, integer
division only on non-negative operands, decimal(38,0) where integer
products can leave int64, no runtime transcendentals, NULL inputs
excluded by mirrored filters (a NULL value/text carries no signal), and
shared constants interpolated into BOTH engines from one Python value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import layout, textops
from ..operators.derive import CENTS_SQL, cents
from ..operators.sampling import hash_bucket
from ..session import fan_out, load_table
from .round6_queries import _logit_col, _logit_ctes


# --- difference-in-differences cohort effect ---------------------------------

#: pre/post cutoff — the same mid-corpus calendar split CUPED uses
DID_CUTOFF = "2024-01-16"


def did_cohort_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout over per-event purchase value:
    users split into two md5 cohorts (0 = control, 1 = treatment), the
    corpus calendar split into pre/post periods, and the DiD estimate
    is (treat_post − treat_pre) − (ctrl_post − ctrl_pre) of the cell
    means — the quasi-experimental estimator that nets out both the
    cohort baseline and the common time trend, which a raw post-period
    z-test (ab_test_zscore) cannot. Completes the experimentation
    suite: fixed-horizon z, sequential SPRT, rank-based Mann-Whitney,
    variance-reduced CUPED, and now DiD.

    Exactness: the four cells' (n, sum-cents) moments are exact int64;
    the DiD estimate is ONE fixed-shape double expression over those
    integers floored to micro-cents (the trend_revenue_by_nation /
    CUPED pattern — exactly-rounded IEEE ops on integer-valued doubles,
    engine-identical). Degenerate cells (any n = 0) emit a NULL
    estimate via CASE in both engines.

    Scale shape: one map-side hash/period classification and ONE
    ungrouped aggregate with conditional sums — no join, no window, no
    shuffle beyond the single partial/final agg."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    base = ev.select(
        hash_bucket(F.col("user_id"), "did", 2).alias("_g"),
        (F.to_date("ts") >= F.lit(DID_CUTOFF).cast("date")).alias("_post"),
        cents("value").alias("_v"),
    )

    def cell(g: int, post: bool, what: str) -> F.Column:
        cond = (F.col("_g") == g) & (F.col("_post") == post)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        return F.sum(F.when(cond, F.col("_v")).otherwise(0)).cast("long")

    agg = base.agg(
        cell(0, False, "n").alias("n_ctrl_pre"),
        cell(0, False, "s").alias("sum_ctrl_pre"),
        cell(0, True, "n").alias("n_ctrl_post"),
        cell(0, True, "s").alias("sum_ctrl_post"),
        cell(1, False, "n").alias("n_treat_pre"),
        cell(1, False, "s").alias("sum_treat_pre"),
        cell(1, True, "n").alias("n_treat_post"),
        cell(1, True, "s").alias("sum_treat_post"),
    )
    did = (
        "CASE WHEN n_ctrl_pre > 0 AND n_ctrl_post > 0"
        " AND n_treat_pre > 0 AND n_treat_post > 0 THEN"
        " CAST(floor(1000000.0 * ("
        "   (CAST(sum_treat_post AS DOUBLE) / n_treat_post"
        "    - CAST(sum_treat_pre AS DOUBLE) / n_treat_pre)"
        "   - (CAST(sum_ctrl_post AS DOUBLE) / n_ctrl_post"
        "      - CAST(sum_ctrl_pre AS DOUBLE) / n_ctrl_pre))) AS BIGINT)"
        " ELSE NULL END"
    )
    return agg.select(
        "n_ctrl_pre", "sum_ctrl_pre", "n_ctrl_post", "sum_ctrl_post",
        "n_treat_pre", "sum_treat_pre", "n_treat_post", "sum_treat_post",
        F.expr(did).alias("did_e6"),
    )


DID_SQL = f"""
WITH base AS (
  SELECT ('0x' || substr(md5(user_id::VARCHAR || 'did'), 1, 8))::BIGINT % 2 AS g,
         ts::DATE >= DATE '{DID_CUTOFF}' AS post,
         {CENTS_SQL.format(x="value")} AS v
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN g = 0 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
    CAST(sum(CASE WHEN g = 0 AND NOT post THEN v ELSE 0 END) AS BIGINT) AS sum_ctrl_pre,
    CAST(sum(CASE WHEN g = 0 AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
    CAST(sum(CASE WHEN g = 0 AND post THEN v ELSE 0 END) AS BIGINT) AS sum_ctrl_post,
    CAST(sum(CASE WHEN g = 1 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
    CAST(sum(CASE WHEN g = 1 AND NOT post THEN v ELSE 0 END) AS BIGINT) AS sum_treat_pre,
    CAST(sum(CASE WHEN g = 1 AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
    CAST(sum(CASE WHEN g = 1 AND post THEN v ELSE 0 END) AS BIGINT) AS sum_treat_post
  FROM base
)
SELECT *,
       CASE WHEN n_ctrl_pre > 0 AND n_ctrl_post > 0
                 AND n_treat_pre > 0 AND n_treat_post > 0 THEN
         CAST(floor(1000000.0 * (
           (CAST(sum_treat_post AS DOUBLE) / n_treat_post
            - CAST(sum_treat_pre AS DOUBLE) / n_treat_pre)
           - (CAST(sum_ctrl_post AS DOUBLE) / n_ctrl_post
              - CAST(sum_ctrl_pre AS DOUBLE) / n_ctrl_pre))) AS BIGINT)
       ELSE NULL END AS did_e6
FROM agg
"""


# --- Nelson-Aalen cumulative hazard ------------------------------------------

#: users whose last activity falls STRICTLY within this many days of
#: the corpus end (gap < SURVIVAL_CENSOR_DAYS) are right-censored
#: (still alive at observation end); a gap of exactly
#: SURVIVAL_CENSOR_DAYS counts as an observed churn event
SURVIVAL_CENSOR_DAYS = 7


def survival_hazard_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over user lifetimes:
    a user's duration is last-active-day − first-active-day; users
    still active strictly within SURVIVAL_CENSOR_DAYS of the corpus
    end (gap < 7 days; a 7-day gap is an observed churn) are
    right-censored. Per observed duration d the risk set n(d) = users
    with duration ≥ d, events e(d) = UNcensored users with duration d,
    hazard step e(d)/n(d), and H(d) = Σ_{d'≤d} e(d')/n(d') — the
    churn/survival primitive (time-to-churn curve) the cohort retention
    table can't provide. Nelson-Aalen is chosen over Kaplan-Meier
    deliberately: NA is a SUM of rationals (each step floored to exact
    ppm, order-independent), while KM's product form would force a
    runtime log/exp — the transcendental class this repo bans from
    oracle pairs.

    Exactness: durations are integer day differences; each hazard step
    is (e·10^6) div n on non-negative ints; the cumulative hazard is an
    integer cumsum of those steps — bit-identical cross-engine.

    Scale shape: one per-user aggregate (the only full-data shuffle);
    the corpus-end anchor attaches as a 1-row broadcast; everything
    after runs on the observed-duration frame, which is bounded by the
    corpus calendar span (≤ |days| rows), so its unpartitioned
    risk-set/cumsum windows are domain-bounded by construction (the
    sprt/ols calendar-frame justification)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_first"),
        F.max(F.to_date("ts")).alias("_last"),
    )
    anchor = users.agg(F.max("_last").alias("_end"))
    lifetimes = users.crossJoin(F.broadcast(anchor)).select(
        F.datediff("_last", "_first").alias("duration"),
        F.when(
            F.datediff("_end", "_last") >= SURVIVAL_CENSOR_DAYS, 1
        ).otherwise(0).alias("_event"),
    )
    per_d = lifetimes.groupBy("duration").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_event").alias("_e")
    )
    # ≤ |calendar days| rows from here on — windows are domain-bounded.
    w_desc = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_asc = Window.orderBy(F.asc_nulls_last("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_d.withColumn("_nrisk", F.sum("_n").over(w_desc)).withColumn(
        "_step", F.expr("(_e * 1000000) div _nrisk")
    )
    return risk.select(
        F.col("duration").cast("long").alias("duration"),
        F.col("_n").cast("long").alias("n_users"),
        F.col("_e").cast("long").alias("n_events"),
        F.col("_nrisk").cast("long").alias("n_risk"),
        F.col("_step").cast("long").alias("hazard_step_ppm"),
        F.sum("_step").over(w_asc).cast("long").alias("cum_hazard_ppm"),
    )


SURVIVAL_SQL = f"""
WITH users AS (
  SELECT user_id, min(ts::DATE) AS f, max(ts::DATE) AS l
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
anchor AS (SELECT max(l) AS e FROM users),
lifetimes AS (
  SELECT (l - f) AS duration,
         CASE WHEN (e - l) >= {SURVIVAL_CENSOR_DAYS} THEN 1 ELSE 0 END AS ev
  FROM users, anchor
),
per_d AS (
  SELECT duration, count(*) AS n, sum(ev) AS e FROM lifetimes GROUP BY 1
),
risk AS (
  SELECT duration, n, e,
         sum(n) OVER (ORDER BY duration DESC) AS nrisk
  FROM per_d
),
steps AS (
  SELECT duration, n, e, nrisk, (e * 1000000) // nrisk AS step FROM risk
)
SELECT CAST(duration AS BIGINT) AS duration,
       CAST(n AS BIGINT) AS n_users,
       CAST(e AS BIGINT) AS n_events,
       CAST(nrisk AS BIGINT) AS n_risk,
       CAST(step AS BIGINT) AS hazard_step_ppm,
       CAST(sum(step) OVER (ORDER BY duration) AS BIGINT) AS cum_hazard_ppm
FROM steps
"""


# --- autocorrelation of daily revenue + Ljung-Box ----------------------------

ACF_MAX_LAG = 7


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags 1..7,
    plus the cumulative Ljung-Box portmanteau statistic — the
    white-noise / weekly-seasonality diagnostic behind "does this KPI
    have memory?" (seasonal_trend_decompose fits the pattern; this
    tests whether dependence exists at all, and Q rejects the
    white-noise null).

    Exactness: with S = Σx and n the day count, the centered deviation
    is the INTEGER n·x_t − S, so lag products and the variance sum are
    exact integers accumulated in decimal(38,0) (n·x_t ≈ 5×10^14 at
    the stress decade; squared ≈ 2.5×10^29 — the ks_value_drift_gate
    headroom argument). The lag-0 row IS the variance denominator, so
    r_k = N_k/N_0 needs no separate totals attach. r_k and the LB term
    n(n+2)·r_k²/(n−k) are fixed-shape doubles over those exact
    decimals, floored/rounded at e6; the cumulative Q sums the ALREADY
    floored integer terms, so accumulation order can't diverge.
    Degenerate cases: zero variance (the all-ties sweep) emits NULL
    acf and a 0 LB term via CASE in both engines; a lag with NO pairs
    (series shorter than the lag) is DROPPED from the output by the
    identical inner join + group in both engines — the output holds
    one row per lag that has at least one pair, not a fixed 7-row
    frame.

    Scale shape: the corpus collapses to the |days|-bounded daily frame
    in one aggregate; the lag expansion is |days|×(ACF_MAX_LAG+1) rows
    and every window after runs on lag- or day-bounded frames (the
    sprt/ols calendar-frame justification)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        F.sum(cents("o_totalprice")).alias("_x")
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    series = daily.select(
        F.row_number().over(Window.orderBy(F.asc_nulls_last("_day"))).alias("_t"),
        "_x",
    ).withColumn("_n", F.count(F.lit(1)).over(w_all)).withColumn(
        "_s", F.sum("_x").over(w_all)
    ).withColumn(
        "_d", (F.col("_n") * F.col("_x") - F.col("_s")).cast("long")
    )
    lags = spark.range(0, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    shifted = series.select(
        F.col("_t").alias("_tb"), F.col("_d").alias("_db")
    )
    prods = (
        series.join(F.broadcast(lags))
        .join(
            shifted,
            F.col("_tb") == F.col("_t") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("_npairs"),
            F.sum(
                F.col("_d").cast("decimal(38,0)") * F.col("_db")
            ).alias("_nk"),
            F.max("_n").alias("_n"),
        )
    )
    # ACF_MAX_LAG+1 rows from here on.
    w_lag = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        prods.withColumn(
            "_d0", F.max(F.when(F.col("lag") == 0, F.col("_nk"))).over(w_lag)
        )
        .filter(F.col("lag") >= 1)
        .withColumn(
            "_r",
            F.when(
                (F.col("_npairs") > 0) & (F.col("_d0") > 0),
                F.col("_nk").cast("double") / F.col("_d0").cast("double"),
            ),
        )
        .withColumn(
            "_lb_e6",
            F.when(
                F.col("_r").isNotNull() & (F.col("_n") > F.col("lag")),
                F.floor(
                    F.lit(1000000.0)
                    * F.col("_n")
                    * (F.col("_n") + 2)
                    * F.col("_r")
                    * F.col("_r")
                    / (F.col("_n") - F.col("lag"))
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )
    return out.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("_n").cast("long").alias("n_days"),
        F.col("_npairs").cast("long").alias("n_pairs"),
        F.expr("CAST(floor(_r * 1000000 + 0.5) AS BIGINT)").alias("acf_e6"),
        "_lb_e6",
        F.sum("_lb_e6").over(w_cum).cast("long").alias("lb_q_e6"),
    ).withColumnRenamed("_lb_e6", "lb_term_e6")


ACF_SQL = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS day, sum({CENTS_SQL.format(x="o_totalprice")}) AS x
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
),
series AS (
  SELECT row_number() OVER (ORDER BY day) AS t, x,
         count(*) OVER () AS n, sum(x) OVER () AS s
  FROM daily
),
dev AS (SELECT t, n, CAST(n * x - s AS BIGINT) AS d FROM series),
prods AS (
  SELECT l.lag, count(*) AS npairs,
         sum(CAST(a.d AS DECIMAL(38,0)) * b.d) AS nk,
         max(a.n) AS n
  FROM range(0, {ACF_MAX_LAG + 1}) l(lag)
  JOIN dev a ON true
  JOIN dev b ON b.t = a.t + l.lag
  GROUP BY 1
),
wide AS (
  SELECT lag, npairs, nk, n,
         max(CASE WHEN lag = 0 THEN nk END) OVER () AS d0
  FROM prods
),
r AS (
  SELECT lag, n, npairs,
         CASE WHEN npairs > 0 AND d0 > 0
              THEN CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE) END AS r
  FROM wide WHERE lag >= 1
),
terms AS (
  SELECT lag, n, npairs, r,
         CAST(CASE WHEN r IS NOT NULL AND n > lag
              THEN floor(1000000.0 * n * (n + 2) * r * r / (n - lag) + 0.5)
              ELSE 0 END AS BIGINT) AS lb
  FROM r
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       CAST(npairs AS BIGINT) AS n_pairs,
       CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS acf_e6,
       lb AS lb_term_e6,
       CAST(sum(lb) OVER (ORDER BY lag) AS BIGINT) AS lb_q_e6
FROM terms
"""


# --- exact Gini-impurity decision stump --------------------------------------

#: logit-bin clamp in e2 units (the isotonic PAV grid bound)
STUMP_CLAMP_E2 = 300


def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-threshold decision stump on the shared quality logit
    against lang='en': over the clamped e2 score-bin domain, find the
    threshold θ minimizing the weighted Gini impurity of the ≤θ / >θ
    split — the exact feature-screening primitive behind every
    tree-based baseline (contingency_association screens a categorical
    pair; this screens a continuous feature against a binary label and
    returns the actionable cut point).

    Exactness: per-bin (n, positives) are exact integers; with left
    cumulative (nL, pL) and totals (N, P), weighted impurity
    = 2·[pL(nL−pL)/nL + pR(nR−pR)/nR]/N is the exact rational
    2·(pL(nL−pL)·nR + pR(nR−pR)·nL) / (nL·nR·N), floored to e9 in
    decimal(38,0) integer division (count triple-products leave int64
    past ~10^6 rows — the ks headroom argument). Non-negative
    operands, so Spark div == DuckDB //. The argmin tiebreaks on the
    smaller θ via row_number over the bin-bounded frame.

    Scale shape: the corpus collapses to the ≤601-bin frame in one
    aggregate; all windows (cumulatives, totals, argmin rank) run on
    that grid-bounded frame. NULL-text docs are excluded by mirrored
    filter (no score signal)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(_logit_col() * 100 + F.lit(0.5)).cast("long"),
                F.lit(STUMP_CLAMP_E2),
            ),
            F.lit(-STUMP_CLAMP_E2),
        ).alias("thr_e2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    per = b.groupBy("thr_e2").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # ≤601 rows from here on — every window is grid-bounded.
    w_cum = Window.orderBy(F.asc_nulls_last("thr_e2")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per.select(
        "thr_e2",
        F.sum("_n").over(w_cum).alias("_nl"),
        F.sum("_p").over(w_cum).alias("_pl"),
        F.sum("_n").over(w_all).alias("_nt"),
        F.sum("_p").over(w_all).alias("_pt"),
    ).filter(F.col("_nl") < F.col("_nt"))
    scored = cum.select(
        "thr_e2", "_nl", "_pl", "_nt", "_pt",
        F.expr(
            "(2000000000 * (CAST(_pl AS DECIMAL(38,0)) * (_nl - _pl) * (_nt - _nl)"
            " + CAST(_pt - _pl AS DECIMAL(38,0)) * ((_nt - _nl) - (_pt - _pl)) * _nl))"
            " div (CAST(_nl AS DECIMAL(38,0)) * (_nt - _nl) * _nt)"
        ).cast("long").alias("_gini_e9"),
    )
    best = scored.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.asc("_gini_e9"), F.asc("thr_e2"))
        ),
    ).filter(F.col("_rk") == 1)
    return best.select(
        F.col("thr_e2").cast("long").alias("thr_e2"),
        F.col("_nl").cast("long").alias("n_left"),
        F.col("_pl").cast("long").alias("p_left"),
        (F.col("_nt") - F.col("_nl")).cast("long").alias("n_right"),
        (F.col("_pt") - F.col("_pl")).cast("long").alias("p_right"),
        F.col("_gini_e9").alias("gini_split_e9"),
        F.expr(
            "CAST((2000000000 * (CAST(_pt AS DECIMAL(38,0)) * (_nt - _pt)))"
            " div (CAST(_nt AS DECIMAL(38,0)) * _nt) AS BIGINT)"
        ).alias("gini_root_e9"),
    )


STUMP_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 100 + 0.5) AS BIGINT),
                        {STUMP_CLAMP_E2}), -{STUMP_CLAMP_E2}) AS thr_e2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s WHERE logit IS NOT NULL
),
per AS (SELECT thr_e2, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        FROM bb GROUP BY 1),
cum AS (
  SELECT thr_e2,
         sum(n) OVER (ORDER BY thr_e2) AS nl,
         sum(p) OVER (ORDER BY thr_e2) AS pl,
         sum(n) OVER () AS nt,
         sum(p) OVER () AS pt
  FROM per
),
scored AS (
  SELECT thr_e2, nl, pl, nt, pt,
         CAST((2000000000 * (CAST(pl AS HUGEINT) * (nl - pl) * (nt - nl)
               + CAST(pt - pl AS HUGEINT) * ((nt - nl) - (pt - pl)) * nl))
              // (CAST(nl AS HUGEINT) * (nt - nl) * nt) AS BIGINT)
           AS gini_e9
  FROM cum WHERE nl < nt
),
best AS (
  SELECT *, row_number() OVER (ORDER BY gini_e9 ASC, thr_e2 ASC) AS rk
  FROM scored
)
SELECT CAST(thr_e2 AS BIGINT) AS thr_e2,
       CAST(nl AS BIGINT) AS n_left,
       CAST(pl AS BIGINT) AS p_left,
       CAST(nt - nl AS BIGINT) AS n_right,
       CAST(pt - pl AS BIGINT) AS p_right,
       gini_e9 AS gini_split_e9,
       CAST((2000000000 * (CAST(pt AS HUGEINT) * (nt - pt)))
            // (CAST(nt AS HUGEINT) * nt) AS BIGINT) AS gini_root_e9
FROM best WHERE rk = 1
"""

# Mirror note: the Spark side filters `text IS NOT NULL`; the oracle's
# shared `s` CTE carries no text column, so it filters `logit IS NOT
# NULL` instead — equivalent, since the logit is NULL exactly when text
# is (every component NULLs through; non-NULL text yields a non-NULL
# logit via the greatest() guards).


# --- l-diversity audit --------------------------------------------------------

L_DIVERSITY = 3
#: sensitive-attribute coarsening: account balance in 1000-unit buckets
L_DIV_BUCKET = 1000


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the customer table: within each
    quasi-identifier equivalence class (market segment × nation — the
    k_anonymity_audit QI set), count the DISTINCT sensitive values
    (account balance coarsened to 1000-unit buckets) and flag classes
    below l = 3 — the attribute-disclosure companion of k-anonymity
    (a class can be k-large yet reveal everyone's balance band if all
    members share it).

    Exactness: the bucket is floor(balance / 1000) — one IEEE divide +
    floor, engine-identical — and everything else is exact counting.
    NULL balances carry no sensitive value and are ignored by
    count(DISTINCT) in both engines.

    Scale shape: one shuffle to QI classes (|segments|×|nations|
    bounded output); the distinct-count runs inside that aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / F.lit(float(L_DIV_BUCKET))).cast("long")
        ).cast("long").alias("n_sensitive"),
    )
    return classes.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "n_sensitive",
        F.when(F.col("n_sensitive") >= L_DIVERSITY, 1)
        .otherwise(0)
        .cast("long")
        .alias("meets_l"),
    )


L_DIVERSITY_SQL = f"""
SELECT c_mktsegment, c_nationkey,
       count(*)::BIGINT AS class_size,
       count(DISTINCT CAST(floor(c_acctbal / {float(L_DIV_BUCKET)}) AS BIGINT))::BIGINT
         AS n_sensitive,
       CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / {float(L_DIV_BUCKET)})
                                          AS BIGINT)) >= {L_DIVERSITY}
                 THEN 1 ELSE 0 END AS BIGINT) AS meets_l
FROM customer
GROUP BY 1, 2
"""


# --- edit-distance near-dup under deterministic blocking ---------------------

LEV_PREFIX = 60      #: chars compared (bounds the O(len²) DP per pair)
LEV_EDIT_MAX = 8     #: max edit distance to report
LEV_MAX_BLOCK = 64   #: skew guard — blocks larger than this are dropped


def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate detection under deterministic
    blocking: candidate pairs share a block key (first token,
    token-count÷8 bucket) and match when the Levenshtein distance of
    their LEV_PREFIX-char prefixes is ≤ LEV_EDIT_MAX — the classical
    typo/OCR-noise ER strategy the token-set family (Jaccard, MinHash,
    SimHash) cannot express, because edit distance sees character
    ORDER.

    Exactness: integer distances, integer block keys; the pair set is
    fully determined by the blocking rule. ORACLE CONTRACT — ASCII
    text only (the mm_audio_peaks precedent): Spark's ``levenshtein``
    counts CODE-POINT edits while DuckDB's counts UTF-8 BYTE edits
    (verified live: 'häst'↔'hast' = 1 vs 2; '中文文本'↔'中文文字' = 1
    vs 3), so the two builtins agree exactly on ASCII and diverge on
    multi-byte text. The operator's Spark-side semantics (code-point
    edits) are the correct ones at any scale; the DuckDB pairing is a
    certification device whose equivalence holds on the ASCII corpus
    contract, documented here rather than silently assumed.

    Scale shape: one shuffle to blocks; the self-join is equi on the
    block key, and the ``LEV_MAX_BLOCK`` guard (the max_shingle_df
    pattern) drops pathological blocks so per-block work is
    O(LEV_MAX_BLOCK²·LEV_PREFIX²) bounded — no quadratic blowup on a
    skewed key. Dropped blocks are a documented coverage cap (the
    no-silent-caps rule: the guard is part of the operator contract,
    like max_shingle_df)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    d = docs.select(
        "doc_id",
        F.substring("text", 1, LEV_PREFIX).alias("_p"),
        F.split(F.trim(F.col("text")), r"\s+").getItem(0).alias("_t0"),
        F.expr(
            f"CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) div 8"
        ).alias("_g"),
    )
    w_blk = Window.partitionBy("_t0", "_g")
    small = d.withColumn("_bn", F.count(F.lit(1)).over(w_blk)).filter(
        F.col("_bn") <= LEV_MAX_BLOCK
    )
    a = small.select(
        F.col("doc_id").alias("id_a"), F.col("_p").alias("_pa"), "_t0", "_g"
    )
    b = small.select(
        F.col("doc_id").alias("id_b"), F.col("_p").alias("_pb"), "_t0", "_g"
    )
    pairs = (
        a.join(b, ["_t0", "_g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("lev", F.levenshtein("_pa", "_pb"))
        .filter(F.col("lev") <= LEV_EDIT_MAX)
    )
    return pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("lev").cast("long"),
    )


LEVENSHTEIN_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         substr(text, 1, {LEV_PREFIX}) AS p,
         regexp_split_to_array(trim(text), '\s+')[1] AS t0,
         len(regexp_split_to_array(trim(text), '\s+')) // 8 AS g
  FROM documents WHERE text IS NOT NULL
),
small AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY t0, g) AS bn FROM d
  ) WHERE bn <= {LEV_MAX_BLOCK}
)
,
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, levenshtein(a.p, b.p) AS lv
  FROM small a JOIN small b
    ON a.t0 = b.t0 AND a.g = b.g AND a.doc_id < b.doc_id
)
SELECT CAST(ida AS BIGINT) AS id_a,
       CAST(idb AS BIGINT) AS id_b,
       CAST(lv AS BIGINT) AS lev
FROM pairs WHERE lv <= {LEV_EDIT_MAX}
"""


# --- sorted-neighborhood near-dup --------------------------------------------

SNM_WINDOW = 3       #: rank-distance window (pairs within W positions)
SNM_PREFIX = 40      #: sort-key prefix length
#: report pairs with token Jaccard ≥ 90% (in bp) — the corpus draws from
#: a small shared vocabulary, so distinct-token Jaccard has a high random
#: baseline (median ~0.55 between ADJACENT-key docs); 0.9 keeps the
#: operator's output at genuinely-near-dup pairs
SNM_JACC_BP = 9000


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-duplicate detection (Hernández &
    Stolfo): sort the corpus by a blocking key (lower-cased
    SNM_PREFIX-char prefix, doc_id tiebreak), then verify ONLY pairs
    within SNM_WINDOW rank positions — the linear-candidate ER
    strategy that complements hash blocking (LSH buckets can split
    near-dups across buckets; a sorted scan catches everything whose
    keys SORT adjacently). Verification is exact distinct-token
    Jaccard in basis points.

    Exactness: ranks, rank gaps, and the Jaccard bp are integers. The
    global order (prefix, doc_id) carries a BMP-ordering CONTRACT (the
    dedup_levenshtein_blocked pattern): Spark/Java sorts strings by
    UTF-16 code units while DuckDB sorts UTF-8 bytes — the two orders
    agree on all Basic-Multilingual-Plane text (every code point the
    testdata and unicode sweep contain: ASCII, accents, CJK, Greek)
    but DIVERGE on supplementary-plane characters (emoji, rare CJK-B),
    where UTF-16 surrogates (0xD800–0xDFFF) sort below U+E000-range
    code points that UTF-8 bytes sort above. Corpora with
    supplementary-plane prefixes need a prefix normalization (e.g.
    strip non-BMP) before this operator; the oracle pair asserts
    equality only under the contract.

    Scale shape: the global rank rides ``layout.dense_ids_by``
    (range-partition + per-partition rank + offset carry — no
    single-partition sort); the neighbor pairing is an integer
    equi-join on rank+offset (SNM_WINDOW·n pairs, linear); token sets
    stay JVM-side arrays (array_intersect), never exploded."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id",
        F.substring(F.lower("text"), 1, SNM_PREFIX).alias("_p"),
        F.array_distinct(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("_tk"),
    )
    ranked = layout.dense_ids_by(keyed, ["_p", "doc_id"], "_rn")
    offs = spark.range(1, SNM_WINDOW + 1).select(F.col("id").alias("_off"))
    left = ranked.join(F.broadcast(offs)).select(
        F.col("doc_id").alias("_ida"),
        F.col("_tk").alias("_ta"),
        (F.col("_rn") + F.col("_off")).alias("_tgt"),
        F.col("_off").alias("gap"),
    )
    right = ranked.select(
        F.col("doc_id").alias("_idb"),
        F.col("_tk").alias("_tb"),
        F.col("_rn").alias("_tgt"),
    )
    pairs = (
        left.join(right, "_tgt")
        .withColumn("_i", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn("_u", F.size("_ta") + F.size("_tb") - F.col("_i"))
        .withColumn("jacc_bp", F.expr("(CAST(_i AS BIGINT) * 10000) div _u"))
        .filter(F.col("jacc_bp") >= SNM_JACC_BP)
    )
    return pairs.select(
        F.least("_ida", "_idb").cast("long").alias("id_a"),
        F.greatest("_ida", "_idb").cast("long").alias("id_b"),
        F.col("gap").cast("long").alias("gap"),
        F.col("jacc_bp").cast("long").alias("jacc_bp"),
    )


SNM_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         substr(lower(text), 1, {SNM_PREFIX}) AS p,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS tk
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT *, row_number() OVER (ORDER BY p, doc_id) AS rn FROM d
),
pairs AS (
  SELECT ida, idb, gap, i, la + lb - i AS u FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           b.rn - a.rn AS gap,
           len(list_intersect(a.tk, b.tk)) AS i,
           len(a.tk) AS la, len(b.tk) AS lb
    FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW})
)
SELECT CAST(least(ida, idb) AS BIGINT) AS id_a,
       CAST(greatest(ida, idb) AS BIGINT) AS id_b,
       CAST(gap AS BIGINT) AS gap,
       CAST((i * 10000) // u AS BIGINT) AS jacc_bp
FROM pairs
WHERE (i * 10000) // u >= {SNM_JACC_BP}
"""


# --- power-of-two padding-waste audit ----------------------------------------


def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding economics for LLM training/serving: documents are
    assigned to power-of-two length buckets (the standard bucketed-
    batching scheme) and the audit reports, per bucket, the exact
    token waste — (bucket_width − n_tokens) summed — and the waste
    share in basis points. This is the number that decides bucket
    granularity: pad-to-longest in a power-of-two bucket wastes
    ≤ 50% worst-case; the audit shows the realized figure per bucket.

    Exactness: the bucket is 2^ceil(log2(n)) computed as
    shiftleft(1, length(bin(n−1))) — pure integer bit arithmetic, no
    engine log2 (the column_encoding_advisor trick); waste and shares
    are exact integer arithmetic.

    Scale shape: map-side token count + bucket assignment, ONE
    aggregate to the ≤ ~40-row bucket frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.expr(
            "CAST(CASE WHEN size(split(trim(text), '\\\\s+')) <= 1 THEN 1"
            " ELSE shiftleft(CAST(1 AS BIGINT),"
            " length(bin(size(split(trim(text), '\\\\s+')) - 1))) END AS BIGINT)"
        ).alias("bucket"),
        F.expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").alias("_nt"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("sum_tokens"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("bucket") - F.col("sum_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.expr(
            "CAST(((n_docs * bucket - sum_tokens) * 10000)"
            " div (n_docs * bucket) AS BIGINT)"
        ).alias("waste_bp"),
    )


PADDING_SQL = r"""
WITH b AS (
  SELECT CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 1 THEN 1
              ELSE 1::BIGINT << length(bin(
                     len(regexp_split_to_array(trim(text), '\s+')) - 1))
         END AS bucket,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS nt
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT bucket, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS sum_tokens
  FROM b GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, sum_tokens,
       CAST(n_docs * bucket - sum_tokens AS BIGINT) AS waste_tokens,
       CAST(((n_docs * bucket - sum_tokens) * 10000)
            // (n_docs * bucket) AS BIGINT) AS waste_bp
FROM agg
"""


# --- tokenizer fertility by language -----------------------------------------


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: characters per
    word-token and word-tokens per whitespace-token (both in exact e3
    integer ratios) — the compression-rate number a tokenizer team
    tracks per language, since a tokenizer that is frugal on English
    and profligate on CJK silently skews both cost and mixture weights
    (the per-lang companion of text_token_count, which reports per-doc
    counts without the language rollup).

    Exactness: counts are exact integers; ratios are non-negative
    integer divisions with CASE NULL sentinels for empty denominators
    (a language whose every doc has zero word tokens).

    Scale shape: map-side counting, ONE aggregate to the |langs|-row
    frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        F.sum(textops.token_count("text")).cast("long").alias("sum_ws_tokens"),
        F.sum(textops.word_token_count("text")).cast("long").alias("sum_word_tokens"),
    )
    return per.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws_tokens",
        "sum_word_tokens",
        F.expr(
            "CASE WHEN sum_word_tokens > 0 THEN"
            " CAST((sum_chars * 1000) div sum_word_tokens AS BIGINT) END"
        ).alias("chars_per_token_e3"),
        F.expr(
            "CASE WHEN sum_ws_tokens > 0 THEN"
            " CAST((sum_word_tokens * 1000) div sum_ws_tokens AS BIGINT) END"
        ).alias("tokens_per_word_e3"),
    )


FERTILITY_SQL = r"""
WITH per AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
         sum(length(text))::BIGINT AS sum_chars,
         sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
           AS sum_ws_tokens,
         sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]', 0)))::BIGINT
           AS sum_word_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1
)
SELECT lang, n_docs, sum_chars, sum_ws_tokens, sum_word_tokens,
       CASE WHEN sum_word_tokens > 0
            THEN CAST((sum_chars * 1000) // sum_word_tokens AS BIGINT) END
         AS chars_per_token_e3,
       CASE WHEN sum_ws_tokens > 0
            THEN CAST((sum_word_tokens * 1000) // sum_ws_tokens AS BIGINT) END
         AS tokens_per_word_e3
FROM per
"""


# --- intra-document repetition audit (Gopher-style) --------------------------


def text_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition ratios: per document, the
    duplicate fraction of its 1-, 2- and 3-grams (in basis points) —
    the within-doc quality filter (Rae et al.'s repetition rules) that
    catches boilerplate loops and degenerate generations, which the
    CROSS-doc operators (ngram_novelty, dedup_*) cannot see by
    construction.

    Exactness: gram totals and distinct counts are exact integers;
    duplicate fractions are non-negative integer divisions; documents
    shorter than the gram order emit NULL for that order via CASE in
    both engines.

    Scale shape: entirely map-side — grams are built with
    transform/slice over the token array and deduplicated with
    array_distinct INSIDE the row (no explode, no shuffle at all)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    toks = "split(lower(trim(text)), '\\\\s+')"

    def uniq(k: int) -> str:
        if k == 1:
            return f"size(array_distinct({toks}))"
        return (
            f"CASE WHEN size({toks}) >= {k} THEN size(array_distinct("
            f"transform(sequence(1, size({toks}) - {k} + 1),"
            f" i -> concat_ws(' ', slice({toks}, i, {k}))))) END"
        )

    def total(k: int) -> str:
        return f"CASE WHEN size({toks}) >= {k} THEN size({toks}) - {k} + 1 END"

    cols = [F.col("doc_id").cast("long").alias("doc_id"),
            F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens")]
    for k in (1, 2, 3):
        cols.append(F.expr(f"CAST({uniq(k)} AS BIGINT)").alias(f"uniq{k}"))
        cols.append(
            F.expr(
                f"CASE WHEN {total(k)} > 0 THEN CAST((({total(k)} - {uniq(k)})"
                f" * 10000) div ({total(k)}) AS BIGINT) END"
            ).alias(f"dup{k}_bp")
        )
    return docs.select(*cols)


REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id,
         len(w) AS nt,
         len(list_distinct(w)) AS u1,
         CASE WHEN len(w) >= 2 THEN len(list_distinct(
           [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))])) END AS u2,
         CASE WHEN len(w) >= 3 THEN len(list_distinct(
           [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) END AS u3
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(u1 AS BIGINT) AS uniq1,
       CASE WHEN nt >= 1 THEN CAST(((nt - u1) * 10000) // nt AS BIGINT) END
         AS dup1_bp,
       CAST(u2 AS BIGINT) AS uniq2,
       CASE WHEN nt >= 2 THEN CAST(((nt - 1 - u2) * 10000) // (nt - 1) AS BIGINT) END
         AS dup2_bp,
       CAST(u3 AS BIGINT) AS uniq3,
       CASE WHEN nt >= 3 THEN CAST(((nt - 2 - u3) * 10000) // (nt - 2) AS BIGINT) END
         AS dup3_bp
FROM g
"""


# --- count-min-sketch heavy hitters + exact gate -----------------------------

CMS_DEPTH = 4        #: independent hash rows
CMS_WIDTH = 64       #: buckets per row
CMS_TOP_K = 20       #: heavy hitters reported (by exact count)


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter estimates with an exact gate: the
    CMS (depth 4 × width 64, md5-wheel hashing — deterministic, no
    engine RNG) summarizes per-user event counts in a 256-cell table;
    the top-K users BY EXACT COUNT are then probed against the sketch
    and the audit reports estimate vs truth and the one-sided error —
    the streaming-frequency primitive (Cormode & Muthukrishnan) behind
    bounded-memory hot-key detection, with the same estimate+exact-gate
    pattern as the KMV and MinHash gates: the sketch's never-
    underestimate property is asserted per row (``gate_ok``).

    Exactness: cell counters, exact counts and estimates are integers;
    the estimate is min over the 4 probed cells; overestimate share is
    a non-negative integer division in bp.

    Scale shape: TWO aggregates over events — the 256-cell sketch
    (config-bounded output, map-side partial agg does the heavy
    lifting) and the exact per-user counts whose top-K is a distributed
    sort-limit; the probe joins the K×4 candidate frame (broadcast) to
    the 256-cell table. At 100 TB the sketch build is the cheap
    pass; the exact side exists because this is the GATE form (the
    production form is the sketch alone)."""
    from ..operators.dedup import md5_int

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    rows = spark.range(0, CMS_DEPTH).select(F.col("id").cast("int").alias("_i"))
    hashed = ev.join(F.broadcast(rows)).select(
        "_i",
        (
            md5_int(F.concat(F.col("user_id").cast("string"), F.lit("cms"), F.col("_i")))
            % CMS_WIDTH
        ).alias("_b"),
    )
    cells = hashed.groupBy("_i", "_b").agg(F.count(F.lit(1)).alias("_c"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("user_id"))
        .limit(CMS_TOP_K)
    )
    probes = exact.join(F.broadcast(rows)).select(
        "user_id",
        "_n",
        "_i",
        (
            md5_int(F.concat(F.col("user_id").cast("string"), F.lit("cms"), F.col("_i")))
            % CMS_WIDTH
        ).alias("_b"),
    )
    est = (
        probes.join(F.broadcast(cells), ["_i", "_b"])
        .groupBy("user_id", "_n")
        .agg(F.min("_c").alias("_est"))
    )
    return est.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("_n").cast("long").alias("exact_count"),
        F.col("_est").cast("long").alias("cms_estimate"),
        F.expr("CAST(((_est - _n) * 10000) div _n AS BIGINT)").alias("over_bp"),
        F.when(F.col("_est") >= F.col("_n"), 1).otherwise(0).cast("long").alias("gate_ok"),
    )


CMS_SQL = f"""
WITH rows_d AS (SELECT i::INT AS i FROM range({CMS_DEPTH}) t(i)),
ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
hashed AS (
  SELECT i,
         ('0x' || substr(md5(user_id::VARCHAR || 'cms' || i::VARCHAR), 1, 8))::BIGINT
           % {CMS_WIDTH} AS b
  FROM ev, rows_d
),
cells AS (SELECT i, b, count(*) AS c FROM hashed GROUP BY 1, 2),
exact AS (
  SELECT user_id, count(*) AS n FROM ev GROUP BY 1
  ORDER BY n DESC, user_id ASC LIMIT {CMS_TOP_K}
),
probes AS (
  SELECT user_id, n, i,
         ('0x' || substr(md5(user_id::VARCHAR || 'cms' || i::VARCHAR), 1, 8))::BIGINT
           % {CMS_WIDTH} AS b
  FROM exact, rows_d
),
est AS (
  SELECT user_id, n, min(c) AS est
  FROM probes JOIN cells USING (i, b)
  GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n AS BIGINT) AS exact_count,
       CAST(est AS BIGINT) AS cms_estimate,
       CAST(((est - n) * 10000) // n AS BIGINT) AS over_bp,
       CAST(CASE WHEN est >= n THEN 1 ELSE 0 END AS BIGINT) AS gate_ok
FROM est
"""


# --- pinball (quantile) loss eval --------------------------------------------

PINBALL_TAU_NUM = 9   #: tau = 9/10 — evaluate a P90 prediction
PINBALL_TAU_DEN = 10


def quantile_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball-loss evaluation of a per-type P90 purchase-value
    predictor: the "model" is each type's exact empirical 0.9-quantile
    (rank ⌈0.9·n⌉ over the distinct-cents domain), and the eval reports
    the mean pinball loss L_τ(v,q) = τ(v−q)⁺ + (1−τ)(q−v)⁺ per type —
    the quantile-regression metric (the MAE of quantile models) that
    completes the eval suite: AUC ranks, decile lift calibrates bands,
    conformal gates coverage, pinball scores QUANTILE point predictions.

    Exactness: the quantile is an exact rank over per-type cumulative
    counts on the distinct-cents domain; per-event losses are exact
    integers ×10 (τ = 9/10 folds into integer weights 9 and 1); the
    mean is a non-negative integer division in x10-cents.

    Scale shape: one per-(type, cents) aggregate; the quantile rank
    runs on the price-range-bounded cents domain per type (the
    ks/conformal justification); the prediction re-attaches via a
    |types|-row broadcast join; the loss aggregate is map-side
    partial."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    base = ev.select("event_type", cents("value").alias("_v"))
    per_v = base.groupBy("event_type", "_v").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("_v"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_type = Window.partitionBy("event_type")
    cum = per_v.select(
        "event_type",
        "_v",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_type).alias("_n"),
    )
    pred = (
        cum.filter(
            F.col("_cum")
            >= F.expr(
                f"(_n * {PINBALL_TAU_NUM} + {PINBALL_TAU_DEN - 1})"
                f" div {PINBALL_TAU_DEN}"
            )
        )
        .groupBy("event_type")
        .agg(F.min("_v").alias("_q"), F.max("_n").alias("_n"))
    )
    loss = (
        base.join(F.broadcast(pred), "event_type")
        .select(
            "event_type",
            "_n",
            F.expr(
                f"CASE WHEN _v >= _q THEN {PINBALL_TAU_NUM} * (_v - _q)"
                f" ELSE {PINBALL_TAU_DEN - PINBALL_TAU_NUM} * (_q - _v) END"
            ).alias("_l"),
        )
        .groupBy("event_type")
        .agg(
            F.max("_n").cast("long").alias("n_events"),
            F.sum("_l").cast("long").alias("sum_loss_x10"),
        )
    )
    return loss.join(F.broadcast(pred.select("event_type", "_q")), "event_type").select(
        "event_type",
        "n_events",
        F.col("_q").cast("long").alias("pred_q_cents"),
        "sum_loss_x10",
        F.expr("CAST(sum_loss_x10 div n_events AS BIGINT)").alias("mean_loss_x10"),
    )


PINBALL_SQL = f"""
WITH base AS (
  SELECT event_type, {CENTS_SQL.format(x="value")} AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
per_v AS (SELECT event_type, v, count(*) AS c FROM base GROUP BY 1, 2),
cum AS (
  SELECT event_type, v,
         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM per_v
),
pred AS (
  SELECT event_type, min(v) AS q, max(n) AS n
  FROM cum
  WHERE cum >= (n * {PINBALL_TAU_NUM} + {PINBALL_TAU_DEN - 1}) // {PINBALL_TAU_DEN}
  GROUP BY 1
),
loss AS (
  SELECT b.event_type, max(p.n) AS n,
         sum(CASE WHEN b.v >= p.q THEN {PINBALL_TAU_NUM} * (b.v - p.q)
                  ELSE {PINBALL_TAU_DEN - PINBALL_TAU_NUM} * (p.q - b.v) END)
           AS sum_loss
  FROM base b JOIN pred p ON b.event_type = p.event_type
  GROUP BY 1
)
SELECT l.event_type,
       CAST(l.n AS BIGINT) AS n_events,
       CAST(p.q AS BIGINT) AS pred_q_cents,
       CAST(l.sum_loss AS BIGINT) AS sum_loss_x10,
       CAST(l.sum_loss // l.n AS BIGINT) AS mean_loss_x10
FROM loss l JOIN pred p ON l.event_type = p.event_type
"""


# --- held-out expected calibration error -------------------------------------

ECE_CLAMP_E1 = 30    #: coarse e1 logit-bin clamp (≤61 bins)


def ece_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Expected Calibration Error of the isotonic-calibrated
    quality model: documents split into md5 halves, the PAV isotonic
    fit (the exact max-min closed form from isotonic_calibration, on a
    coarser ≤61-bin grid) is computed on the TRAIN half, and each TEST-
    half bin reports its observed positive rate vs the train fit plus
    the |gap|-weighted ECE contribution — the calibration EVAL that
    completes the calibration FIT: isotonic_calibration measures the
    in-sample curve; this measures whether it transfers to unseen data
    (Naeini et al.'s ECE, binned form).

    Exactness: the PAV fit is the same exact integer max-min closed
    form (floor commutes with min/max); test rates are exact ppm
    integer divisions; the ECE contribution |rate−fit|·n_test is exact
    integer arithmetic (summable in any order). Test bins with no train
    fit (score region unseen in training) emit NULL fit and are
    excluded from the ECE sum via CASE in both engines — reported, not
    silently dropped.

    Scale shape: both halves collapse to ≤61-bin frames in one
    aggregate each; the PAV pair expansion, windows, and the train-test
    bin join are all grid-bounded (the isotonic justification)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(_logit_col() * 10 + F.lit(0.5)).cast("long"),
                F.lit(ECE_CLAMP_E1),
            ),
            F.lit(-ECE_CLAMP_E1),
        ).alias("bin_e1"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        hash_bucket(F.col("doc_id"), "ece", 2).alias("_h"),
    )
    per_tr = b.filter(F.col("_h") == 0).groupBy("bin_e1").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # ≤61 rows from here on — grid-bounded (the isotonic justification).
    w_cum = Window.orderBy(F.asc_nulls_last("bin_e1")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pre = per_tr.select(
        "bin_e1",
        "_n",
        "_p",
        F.row_number().over(Window.orderBy(F.asc_nulls_last("bin_e1"))).alias("_i"),
        F.sum("_n").over(w_cum).alias("_sn"),
        F.sum("_p").over(w_cum).alias("_sp"),
    ).withColumn("_m", F.max("_i").over(w_all))
    pairs = pre.select(
        F.col("_i").alias("_j"),
        (F.col("_sn") - F.col("_n")).alias("_snp"),
        (F.col("_sp") - F.col("_p")).alias("_spp"),
        F.explode(F.sequence(F.col("_i"), F.col("_m"))).alias("_k"),
    )
    right = pre.select(
        F.col("_i").alias("_k"), F.col("_sn").alias("_snk"), F.col("_sp").alias("_spk")
    )
    mj = (
        pairs.join(F.broadcast(right), "_k")
        .groupBy("_j")
        .agg(F.min(F.expr("((_spk - _spp) * 1000000) div (_snk - _snp)")).alias("_mj"))
    )
    w_fit = Window.orderBy("_j").rowsBetween(Window.unboundedPreceding, 0)
    fit = (
        mj.select(F.col("_j").alias("_i"), F.max("_mj").over(w_fit).alias("_f"))
        .join(F.broadcast(pre.select("_i", "bin_e1")), "_i")
        .select("bin_e1", F.col("_f").alias("fit_ppm"))
    )
    per_te = b.filter(F.col("_h") == 1).groupBy("bin_e1").agg(
        F.count(F.lit(1)).alias("_nt"), F.sum("_y").alias("_pt")
    )
    joined = per_te.join(F.broadcast(fit), "bin_e1", "left").select(
        "bin_e1",
        "_nt",
        "_pt",
        "fit_ppm",
        F.expr("(_pt * 1000000) div _nt").alias("_rate"),
    )
    w_tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = joined.withColumn(
        "_contrib",
        F.expr("CASE WHEN fit_ppm IS NOT NULL THEN abs(_rate - fit_ppm) * _nt END"),
    ).withColumn("_ntot", F.sum("_nt").over(w_tot))
    return out.select(
        F.col("bin_e1").cast("long").alias("bin_e1"),
        F.col("_nt").cast("long").alias("n_test"),
        F.col("_pt").cast("long").alias("p_test"),
        F.col("_rate").cast("long").alias("rate_ppm"),
        F.col("fit_ppm").cast("long").alias("fit_ppm"),
        F.expr(
            "CAST(CASE WHEN fit_ppm IS NOT NULL THEN abs(_rate - fit_ppm) END AS BIGINT)"
        ).alias("gap_ppm"),
        F.expr(
            "CAST(CASE WHEN fit_ppm IS NOT NULL THEN (abs(_rate - fit_ppm) * _nt)"
            " div _ntot END AS BIGINT)"
        ).alias("ece_term_ppm"),
    )


ECE_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 10 + 0.5) AS BIGINT),
                        {ECE_CLAMP_E1}), -{ECE_CLAMP_E1}) AS bin_e1,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ('0x' || substr(md5(doc_id::VARCHAR || 'ece'), 1, 8))::BIGINT % 2 AS h
  FROM s
  WHERE logit IS NOT NULL
),
per_tr AS (SELECT bin_e1, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
           FROM bb WHERE h = 0 GROUP BY 1),
pre AS (
  SELECT bin_e1, n, p,
         row_number() OVER (ORDER BY bin_e1) AS i,
         sum(n) OVER (ORDER BY bin_e1) AS sn,
         sum(p) OVER (ORDER BY bin_e1) AS sp,
         count(*) OVER () AS m
  FROM per_tr
),
pairs AS (
  SELECT a.i AS j, a.sn - a.n AS snp, a.sp - a.p AS spp,
         b.i AS k, b.sn AS snk, b.sp AS spk
  FROM pre a JOIN pre b ON b.i >= a.i
),
mj AS (
  SELECT j, min(((spk - spp) * 1000000) // (snk - snp)) AS mjv
  FROM pairs GROUP BY 1
),
fit AS (
  SELECT p2.bin_e1, f.f AS fit_ppm FROM (
    SELECT j AS i, max(mjv) OVER (ORDER BY j) AS f FROM mj
  ) f JOIN pre p2 ON p2.i = f.i
),
per_te AS (SELECT bin_e1, count(*)::BIGINT AS nt, sum(y)::BIGINT AS pt
           FROM bb WHERE h = 1 GROUP BY 1),
joined AS (
  SELECT t.bin_e1, t.nt, t.pt, fit.fit_ppm,
         (t.pt * 1000000) // t.nt AS rate,
         sum(t.nt) OVER () AS ntot
  FROM per_te t LEFT JOIN fit ON t.bin_e1 = fit.bin_e1
)
SELECT CAST(bin_e1 AS BIGINT) AS bin_e1,
       CAST(nt AS BIGINT) AS n_test,
       CAST(pt AS BIGINT) AS p_test,
       CAST(rate AS BIGINT) AS rate_ppm,
       CAST(fit_ppm AS BIGINT) AS fit_ppm,
       CAST(CASE WHEN fit_ppm IS NOT NULL THEN abs(rate - fit_ppm) END AS BIGINT)
         AS gap_ppm,
       CAST(CASE WHEN fit_ppm IS NOT NULL
                 THEN (abs(rate - fit_ppm) * nt) // ntot END AS BIGINT)
         AS ece_term_ppm
FROM joined
"""


# --- banded Theil-Sen robust trend -------------------------------------------

THEILSEN_MAX_SPAN_DAYS = 90  #: pair band — slopes only between days ≤90 apart


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil-Sen robust slope of daily order revenue: the median
    of pairwise slopes (Δrevenue/Δdays) over all day pairs at most 90
    days apart — the outlier-robust trend estimator that complements
    the least-squares ols_daily_trend_by_type (one spiky day moves OLS;
    the slope MEDIAN shrugs it off; banding is the standard
    large-series variant and keeps the pair frame calendar-bounded).

    Exactness (r9 --bigmoney rewrite): per-pair slope_e6 =
    floor(1e6·Δcents/Δdays) is now EXACT INTEGER floor division in
    decimal(38,0)/HUGEINT — the original floor(double)·cast(long) form
    silently saturated on Spark and crashed DuckDB's BIGINT cast once
    1e6·Δcents/Δdays passed ~9.2e18 (a $9.2e12/day-slope bound the
    100 TB design point can exceed; caught by the 50-row --bigmoney
    sweep). Spark lacks a wide floor-div, so floor(a/b) for b > 0 is
    the remainder decomposition (a − a % b)/b (exact: the quotient is
    integral, so the scale-bounded decimal divide cannot round) minus
    1 when a % b ≠ 0 and a < 0 (% follows the dividend sign in BOTH
    engines). The same decomposition is mirrored in the SQL: DuckDB
    `//` TRUNCATES toward zero on integers (measured -7//2 = -3 —
    correcting an earlier repo claim that it floors; the claim was
    harmless elsewhere because every other `//` site has non-negative
    operands by filter or domain). The median is the exact lower median
    by rank over the slope-value domain; the OUTPUT stays BIGINT with
    a mirrored NULL once the median itself leaves int64 (the
    documented representation bound, the degenerate-case pattern).

    Scale shape: the corpus collapses to the |days| daily frame in one
    aggregate; the banded self-join and every window after run on
    calendar-bounded frames (≤|days|·90 pairs — constant in DATA
    volume, growing only with the time span; same justification class
    as sprt/ols, one size up and documented as such)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        F.sum(cents("o_totalprice")).alias("_x")
    )
    d = daily.select(
        F.datediff("_day", F.lit("1970-01-01").cast("date")).cast("long").alias("_d"),
        "_x",
    )
    b = d.select(F.col("_d").alias("_db"), F.col("_x").alias("_xb"))
    slopes = (
        d.join(
            F.broadcast(b),
            (F.col("_db") > F.col("_d"))
            & (F.col("_db") <= F.col("_d") + THEILSEN_MAX_SPAN_DAYS),
        )
        .select(
            (
                F.lit(1000000).cast("decimal(38,0)")
                * (F.col("_xb") - F.col("_x"))
            ).alias("_a"),
            (F.col("_db") - F.col("_d")).alias("_b"),
        )
        .selectExpr(
            # exact floor(_a / _b), _b > 0: remainder decomposition
            # (integral quotient -> the decimal divide cannot round),
            # minus 1 on a nonzero negative remainder
            "CAST((_a - (_a % _b)) / _b AS DECIMAL(38,0))"
            " - (CASE WHEN _a % _b != 0 AND _a < 0 THEN 1 ELSE 0 END)"
            " AS _s"
        )
    )
    per_s = slopes.groupBy("_s").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = Window.orderBy(F.asc_nulls_last("_s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per_s.select(
        "_s",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    med = cum.filter(F.col("_cum") >= F.expr("(_n + 1) div 2")).agg(
        F.min("_s").alias("_med"), F.max("_n").alias("_np")
    )
    ndays = daily.agg(F.count(F.lit(1)).alias("_nd"))
    return med.crossJoin(F.broadcast(ndays)).select(
        F.col("_nd").cast("long").alias("n_days"),
        F.col("_np").cast("long").alias("n_pairs"),
        F.expr(
            "CASE WHEN _med >= -9223372036854775808"
            " AND _med <= 9223372036854775807"
            " THEN CAST(_med AS BIGINT) END"
        ).alias("theilsen_slope_e6"),
    ).where(F.col("_np").isNotNull())


THEILSEN_SQL = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS day, sum({CENTS_SQL.format(x="o_totalprice")}) AS x
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
),
d AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS dd, x FROM daily),
slopes AS (
  -- DuckDB `//` TRUNCATES toward zero on integers (measured: -7//2 =
  -- -3), so floor is the SAME remainder decomposition as the Spark
  -- side: trunc quotient minus 1 on a nonzero negative remainder
  -- (% follows the dividend sign in both engines)
  SELECT (CAST(1000000 AS HUGEINT) * (b.x - a.x)) // (b.dd - a.dd)
         - (CASE WHEN (CAST(1000000 AS HUGEINT) * (b.x - a.x)) % (b.dd - a.dd) != 0
                  AND CAST(1000000 AS HUGEINT) * (b.x - a.x) < 0
                 THEN 1 ELSE 0 END) AS s
  FROM d a JOIN d b
    ON b.dd > a.dd AND b.dd <= a.dd + {THEILSEN_MAX_SPAN_DAYS}
),
per_s AS (SELECT s, count(*) AS c FROM slopes GROUP BY 1),
cum AS (
  SELECT s, sum(c) OVER (ORDER BY s) AS cum, sum(c) OVER () AS n FROM per_s
),
med AS (
  SELECT min(s) AS m, max(n) AS np FROM cum WHERE cum >= (n + 1) // 2
)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN m >= -9223372036854775808 AND m <= 9223372036854775807
            THEN CAST(m AS BIGINT) END AS theilsen_slope_e6
FROM med
WHERE np IS NOT NULL
"""


# --- wave 10 (registered after the r7 seal — checked in the r8 window) -------

HHI_SHARE_SCALE = 10000  #: shares in basis points; HHI on the 0..10000 scale


def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation over
    customer revenue shares — the antitrust-standard concentration
    measure (revenue_gini ranks inequality of the whole distribution;
    HHI = Σ share² is the regulator's threshold number, comparable
    against the 1500/2500 DOJ bands on the 0..10000 scale).

    Exactness: shares are FLOORED basis points (share_bp = rev·10⁴ div
    nation_rev, non-negative integer division), and the index is the
    exact integer Σ share_bp² div 10⁴ — the floored-share HHI, a
    deterministic, engine-identical statistic (documented as such: the
    real-valued HHI differs by at most |customers|·2·10⁻⁴·10⁴ from it).
    Non-negativity contract: rows with o_totalprice < 0 are filtered in
    BOTH engines (Spark ``div`` truncates toward zero, DuckDB ``//``
    floors — they differ on negatives; a credit-heavy customer could
    otherwise push _r or even _t below zero). int64 headroom: _r is
    per-(nation, customer) revenue in cents, so ``_r * 10⁴`` stays in
    int64 up to $9.2×10¹² per customer; ``Σ share_bp²`` is bounded by
    10⁸·|customers| — DuckDB's integer sum is HUGEINT either way.

    Scale shape: one (nation, customer) revenue aggregate (the only
    full-data shuffle), nation totals via a second bounded aggregate
    re-attached as a |nations|-row broadcast, and a final bounded
    groupBy — no windows over data-sized frames."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    rev = (
        orders.filter(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") >= 0))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("_r"))
    )
    tot = rev.groupBy("c_nationkey").agg(
        F.sum("_r").alias("_t"), F.count(F.lit(1)).alias("_nc")
    )
    shares = rev.join(F.broadcast(tot), "c_nationkey").select(
        "c_nationkey",
        "_nc",
        F.expr(f"(_r * {HHI_SHARE_SCALE}) div _t").alias("_s"),
    )
    return (
        shares.groupBy("c_nationkey")
        .agg(
            F.max("_nc").cast("long").alias("n_customers"),
            F.expr(f"CAST(sum(_s * _s) div {HHI_SHARE_SCALE} AS BIGINT)").alias("hhi"),
        )
        .select(
            "c_nationkey",
            "n_customers",
            "hhi",
            F.when(F.col("hhi") >= 2500, F.lit("high"))
            .when(F.col("hhi") >= 1500, F.lit("moderate"))
            .otherwise(F.lit("low"))
            .alias("band"),
        )
    )


HHI_SQL = f"""
WITH rev AS (
  SELECT c_nationkey, c_custkey, sum({CENTS_SQL.format(x="o_totalprice")}) AS r
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
  GROUP BY 1, 2
),
tot AS (SELECT c_nationkey, sum(r) AS t, count(*) AS nc FROM rev GROUP BY 1),
shares AS (
  SELECT rev.c_nationkey, nc, (r * {HHI_SHARE_SCALE}) // t AS s
  FROM rev JOIN tot ON rev.c_nationkey = tot.c_nationkey
)
SELECT c_nationkey,
       CAST(max(nc) AS BIGINT) AS n_customers,
       CAST(sum(s * s) // {HHI_SHARE_SCALE} AS BIGINT) AS hhi,
       CASE WHEN sum(s * s) // {HHI_SHARE_SCALE} >= 2500 THEN 'high'
            WHEN sum(s * s) // {HHI_SHARE_SCALE} >= 1500 THEN 'moderate'
            ELSE 'low' END AS band
FROM shares GROUP BY 1
"""


# --- Bloom-filter false-positive-rate audit ----------------------------------

BF_BITS = 1024       #: bitmap size m (32 32-bit words)
BF_HASHES = 3        #: hash functions k (md5 wheel — portable)


def bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured false-positive rate of a Bloom filter over the purchase
    user set, probed with EVERY distinct event user — the sketch-audit
    companion of bloom_filtered_events_join: that query proves the
    prefilter preserves join results; this one measures the sketch's
    actual selectivity loss (FPR) and fill ratio, the two numbers that
    size m and k for a 100 TB runtime filter. Same estimate+exact-gate
    family as the CMS/KMV gates — no-false-negatives is asserted as
    ``gate_ok`` (every true member must probe positive).

    Unlike operators/bloom (xxhash64 — JVM-only), the audit's positions
    come from the md5 wheel so BOTH engines build bit-identical
    bitmaps; the bitmap stays RELATIONAL (a ≤32-row (word, mask) table)
    rather than a packed array, so the probe is a plain broadcast
    equi-join on the word index in both engines.

    Exactness: positions, masks, counts and the FPR bp are exact
    integers throughout.

    Scale shape: members/probes are distinct-user aggregates; the
    bitmap build is a ≤16-row groupBy; probing joins each probe's k
    positions to the broadcast word table and counts hits — map-side
    after one users shuffle."""
    from ..operators.dedup import md5_int

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    members = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    probes = ev.select("user_id").distinct()
    hashes = spark.range(0, BF_HASHES).select(F.col("id").cast("int").alias("_i"))

    def pos(col: F.Column) -> F.Column:
        return md5_int(
            F.concat(col.cast("string"), F.lit("bf"), F.col("_i"))
        ) % BF_BITS

    words = (
        members.join(F.broadcast(hashes))
        .select(pos(F.col("user_id")).alias("_p"))
        .distinct()
        .groupBy(F.expr("_p div 32").alias("_w"))
        .agg(
            # 32-bit words: DuckDB raises on `1::BIGINT << 63` (checked
            # overflow), so both engines stay in the safe shift range
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 32 AS INT))")).alias(
                "_mask"
            )
        )
    )
    truth = probes.join(
        members.withColumn("_is_member", F.lit(1)), "user_id", "left"
    ).select("user_id", F.coalesce("_is_member", F.lit(0)).alias("_m"))
    ppos = truth.join(F.broadcast(hashes)).select(
        "user_id",
        "_m",
        F.expr(
            f"conv(substring(md5(concat(CAST(user_id AS STRING), 'bf', CAST(_i AS STRING))), 1, 8), 16, 10) % {BF_BITS}"
        ).cast("long").alias("_p"),
    )
    hits = (
        ppos.join(
            F.broadcast(words),
            (F.expr("_p div 32") == F.col("_w"))
            & (
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 32 AS INT))").bitwiseAND(
                    F.col("_mask")
                )
                != 0
            ),
        )
        .groupBy("user_id", "_m")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    per_probe = truth.join(
        hits.select("user_id", "_hits"), "user_id", "left"
    ).select(
        "_m",
        F.when(F.coalesce("_hits", F.lit(0)) == BF_HASHES, 1).otherwise(0).alias("_pos"),
    )
    fill = words.agg(F.sum(F.bit_count("_mask")).alias("_set"))
    agg = per_probe.agg(
        F.sum("_m").cast("long").alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("_pos").cast("long").alias("n_bloom_positive"),
        F.sum(F.when((F.col("_pos") == 1) & (F.col("_m") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positive"),
        F.sum(F.when((F.col("_pos") == 0) & (F.col("_m") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negative"),
    )
    return agg.crossJoin(F.broadcast(fill)).select(
        "n_members",
        "n_probes",
        "n_bloom_positive",
        "n_false_positive",
        F.expr(
            "CAST(CASE WHEN n_probes - n_members > 0 THEN"
            " (n_false_positive * 10000) div (n_probes - n_members)"
            " ELSE 0 END AS BIGINT)"
        ).alias("fpr_bp"),
        F.expr(f"CAST((_set * 10000) div {BF_BITS} AS BIGINT)").alias("fill_bp"),
        F.when(F.col("n_false_negative") == 0, 1).otherwise(0).cast("long").alias("gate_ok"),
    )


BLOOM_FPR_SQL = f"""
WITH ev AS (SELECT user_id, event_type FROM events WHERE user_id IS NOT NULL),
members AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'),
probes AS (SELECT DISTINCT user_id FROM ev),
hashes AS (SELECT i::INT AS i FROM range({BF_HASHES}) t(i)),
mpos AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR || 'bf' || i::VARCHAR), 1, 8))::BIGINT
           % {BF_BITS} AS p
  FROM members, hashes
),
words AS (
  SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS mask
  FROM mpos GROUP BY 1
),
truth AS (
  SELECT p.user_id, CASE WHEN m.user_id IS NOT NULL THEN 1 ELSE 0 END AS mem
  FROM probes p LEFT JOIN members m ON p.user_id = m.user_id
),
ppos AS (
  SELECT user_id, mem,
         ('0x' || substr(md5(user_id::VARCHAR || 'bf' || i::VARCHAR), 1, 8))::BIGINT
           % {BF_BITS} AS p
  FROM truth, hashes
),
hits AS (
  SELECT user_id, mem, count(*) AS h
  FROM ppos JOIN words
    ON p // 32 = w AND (mask & (1::BIGINT << CAST(p % 32 AS INT))) != 0
  GROUP BY 1, 2
),
per_probe AS (
  SELECT t.mem,
         CASE WHEN coalesce(h.h, 0) = {BF_HASHES} THEN 1 ELSE 0 END AS pos
  FROM truth t LEFT JOIN hits h ON t.user_id = h.user_id
),
fill AS (SELECT sum(bit_count(mask)) AS nset FROM words),
agg AS (
  SELECT CAST(sum(mem) AS BIGINT) AS n_members,
         count(*)::BIGINT AS n_probes,
         CAST(sum(pos) AS BIGINT) AS n_bloom_positive,
         CAST(sum(CASE WHEN pos = 1 AND mem = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positive,
         CAST(sum(CASE WHEN pos = 0 AND mem = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_negative
  FROM per_probe
)
SELECT n_members, n_probes, n_bloom_positive, n_false_positive,
       CAST(CASE WHEN n_probes - n_members > 0 THEN
              (n_false_positive * 10000) // (n_probes - n_members)
            ELSE 0 END AS BIGINT) AS fpr_bp,
       CAST((nset * 10000) // {BF_BITS} AS BIGINT) AS fill_bp,
       CAST(CASE WHEN n_false_negative = 0 THEN 1 ELSE 0 END AS BIGINT) AS gate_ok
FROM agg, fill
"""


# --- systematic (every-k-th) sampling ----------------------------------------

SYSTEMATIC_K = 10    #: keep every K-th document
SYSTEMATIC_OFFSET = 3  #: deterministic phase


def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sampling: rank the corpus in a fixed total order
    (doc_id) and keep every K-th row at a fixed phase — the classical
    equal-interval design that guarantees EXACTLY ⌈n/K⌉ ± 1 rows and
    perfect stride coverage, which Bernoulli/hash sampling
    (sample_hash_10pct) only achieves in expectation. The sampler an
    eval pipeline uses when it needs a deterministic, evenly-spaced
    holdout.

    Exactness: ranks and the modulus are exact integers; the sample is
    fully determined by (K, offset, doc_id order).

    Scale shape: the rank rides ``layout.dense_ids_by`` (range
    partition + offset carry — no single-partition sort); the keep
    predicate is map-side."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ranked = layout.dense_ids_by(docs.select("doc_id", "lang"), ["doc_id"], "_rk")
    return (
        ranked.filter(
            F.col("_rk") % SYSTEMATIC_K == SYSTEMATIC_OFFSET
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("_rk").cast("long").alias("rank"),
            "lang",
        )
    )


SYSTEMATIC_SQL = f"""
WITH r AS (
  SELECT doc_id, lang, row_number() OVER (ORDER BY doc_id) AS rk FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rk AS BIGINT) AS rank,
       lang
FROM r WHERE rk % {SYSTEMATIC_K} = {SYSTEMATIC_OFFSET}
"""


# --- LTV cohort curve ---------------------------------------------------------


def ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curve per signup cohort: users grouped
    by first-signup day, purchases attributed at their day-age since
    signup, and each (cohort, age) cell reports purchasers, revenue,
    cumulative revenue, and cumulative revenue per cohort member — the
    product-analytics curve (does day-30 LTV cover acquisition cost?)
    that retention_cohorts' activity matrix and asof_signup_attribution's
    per-event rows don't aggregate.

    Exactness: ages are integer day differences; revenue is exact
    cents; cumulative sums are integer windows; per-member values are
    non-negative integer divisions. Refund rows (value < 0) are
    EXCLUDED in both engines — the module's house rule is integer
    division only on non-negative operands (measured r9: both engines
    truncate toward zero; the guard is a semantic contract, not an
    engine-divergence fix), and
    a refund-heavy age cell could otherwise drive cum_revenue
    negative. Same guard as halflife_decay_user_value.

    Scale shape: one per-user first-signup aggregate, one equi-join of
    purchases to it (shuffles on user_id), one (cohort, age) aggregate;
    the cumulative window is partitioned by cohort over the ≤|days| age
    domain (calendar-bounded)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("_cohort"))
    )
    cohort_size = signup.groupBy("_cohort").agg(F.count(F.lit(1)).alias("_sz"))
    purchases = ev.filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
    ).select("user_id", F.to_date("ts").alias("_pday"), cents("value").alias("_v"))
    aged = (
        purchases.join(signup, "user_id")
        .filter(F.col("_pday") >= F.col("_cohort"))
        .select(
            "_cohort",
            F.datediff("_pday", "_cohort").alias("age_days"),
            "user_id",
            "_v",
        )
    )
    cells = aged.groupBy("_cohort", "age_days").agg(
        F.countDistinct("user_id").alias("_buyers"),
        F.sum("_v").alias("_rev"),
    )
    w_cum = (
        Window.partitionBy("_cohort")
        .orderBy(F.asc_nulls_last("age_days"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = cells.join(F.broadcast(cohort_size), "_cohort").select(
        F.col("_cohort").alias("cohort_day"),
        F.col("age_days").cast("long").alias("age_days"),
        F.col("_sz").cast("long").alias("cohort_users"),
        F.col("_buyers").cast("long").alias("n_buyers"),
        F.col("_rev").cast("long").alias("revenue_cents"),
        F.sum("_rev").over(w_cum).cast("long").alias("cum_revenue_cents"),
        F.expr("CAST(sum(_rev) OVER (PARTITION BY _cohort ORDER BY age_days"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) div _sz"
               " AS BIGINT)").alias("cum_ltv_per_user_cents"),
    )
    return out


LTV_SQL = f"""
WITH signup AS (
  SELECT user_id, min(ts::DATE) AS cohort FROM events
  WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1
),
csize AS (SELECT cohort, count(*) AS sz FROM signup GROUP BY 1),
aged AS (
  SELECT s.cohort, (e.ts::DATE - s.cohort) AS age_days, e.user_id,
         {CENTS_SQL.format(x="e.value")} AS v
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL AND e.value >= 0
    AND e.ts::DATE >= s.cohort
),
cells AS (
  SELECT cohort, age_days, count(DISTINCT user_id) AS buyers, sum(v) AS rev
  FROM aged GROUP BY 1, 2
)
SELECT c.cohort AS cohort_day,
       CAST(age_days AS BIGINT) AS age_days,
       CAST(sz AS BIGINT) AS cohort_users,
       CAST(buyers AS BIGINT) AS n_buyers,
       CAST(rev AS BIGINT) AS revenue_cents,
       CAST(sum(rev) OVER (PARTITION BY c.cohort ORDER BY age_days) AS BIGINT)
         AS cum_revenue_cents,
       CAST(sum(rev) OVER (PARTITION BY c.cohort ORDER BY age_days) // sz AS BIGINT)
         AS cum_ltv_per_user_cents
FROM cells c JOIN csize ON c.cohort = csize.cohort
"""


# --- overdispersion (index of dispersion) check -------------------------------


def overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion check per event type over purchase cents:
    D = s²/x̄ = (n·Σx² − S²) / ((n−1)·S), the variance-to-mean ratio
    that decides Poisson vs negative-binomial modeling (D ≈ 1 Poisson;
    D ≫ 1 overdispersed — use NB). The count-model diagnostic the
    anomaly/forecast family (rolling_zscore, seasonal_naive) assumes
    but never tests.

    Exactness: S and Q = Σx² are exact integer moments (Q accumulates
    in decimal(38,0) — cents² ≈ 10¹² per row leaves int64 past ~10⁶
    rows); the numerator n·Q − S² ≥ 0 by Cauchy-Schwarz, so the e6
    index is a NON-NEGATIVE integer division — Spark decimal div ==
    DuckDB HUGEINT // (the decision_stump_gini house rule). Degenerate
    groups (n < 2 or S = 0) emit a NULL index via CASE in both
    engines.

    Scale shape: one map-side moment aggregate to the |types|-row
    frame; nothing else."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    m = ev.select("event_type", cents("value").alias("_v")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_v")).alias("_q"),
    )
    return m.select(
        "event_type",
        F.col("_n").cast("long").alias("n_events"),
        F.col("_s").cast("long").alias("sum_cents"),
        F.expr(
            "CASE WHEN _n >= 2 AND _s > 0 THEN"
            " CAST(((_n * _q - CAST(_s AS DECIMAL(38,0)) * _s) * 1000000)"
            " div ((_n - 1) * CAST(_s AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("dispersion_e6"),
        F.expr(
            "CASE WHEN _n >= 2 AND _s > 0 THEN"
            " CASE WHEN ((_n * _q - CAST(_s AS DECIMAL(38,0)) * _s) * 1000000)"
            " div ((_n - 1) * CAST(_s AS DECIMAL(38,0))) > 1000000"
            " THEN 1 ELSE 0 END END"
        ).cast("long").alias("overdispersed"),
    )


OVERDISPERSION_SQL = f"""
WITH m AS (
  SELECT event_type, count(*) AS n,
         sum(v) AS s,
         sum(CAST(v AS HUGEINT) * v) AS q
  FROM (SELECT event_type, {CENTS_SQL.format(x="value")} AS v
        FROM events WHERE value IS NOT NULL AND value >= 0)
  GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS sum_cents,
       CASE WHEN n >= 2 AND s > 0 THEN
         CAST(((n * q - CAST(s AS HUGEINT) * s) * 1000000)
              // ((n - 1) * CAST(s AS HUGEINT)) AS BIGINT) END AS dispersion_e6,
       CAST(CASE WHEN n >= 2 AND s > 0 THEN
         CASE WHEN ((n * q - CAST(s AS HUGEINT) * s) * 1000000)
              // ((n - 1) * CAST(s AS HUGEINT)) > 1000000
              THEN 1 ELSE 0 END END AS BIGINT) AS overdispersed
FROM m
"""
