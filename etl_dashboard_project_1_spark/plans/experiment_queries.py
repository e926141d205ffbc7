"""Hypothesis tests and experiment readouts.

- A/B experiments on the standing md5 user split: covariate balance,
  power and minimum detectable effect, CUPED, difference in differences,
  inverse-propensity weighting, Wald SPRT and O'Brien-Fleming group
  sequential monitors;
- two-sample and k-sample tests: Mann-Whitney U, Kruskal-Wallis H,
  Cochran-Armitage trend, chi-square association, and Benjamini-Hochberg
  FDR control over a family of tests;
- survival: the Nelson-Aalen hazard and the two-cohort log-rank test;
- intervals and prediction: Poisson-bootstrap CI, split-conformal
  coverage and pinball loss.

Every statistic is exact integer or floor-form arithmetic in both
engines (see the package docstring for the rules).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import md5_int
from ..operators.derive import CENTS_SQL, cents
from ..operators.sampling import hash_bucket
from ..session import load_table


# --- contingency association audit (chi² + mutual information) ---------------

def contingency_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association audit between event type and day-of-week over ONE
    shared contingency table: per (type, dow) cell, the observed count
    and the three exact integer margins — the sufficient statistics for
    BOTH χ² and mutual information — plus the cell's χ² contribution
    (pure IEEE *,/ over those integers, exactly rounded and
    engine-identical). The feature-selection / drift-detection primitive
    behind "is this column independent of that one?" (ab_test_zscore
    tests one 2×2 split; this audits the full |types|×7 grid).

    MI is NOT evaluated at runtime: per house rule (no transcendental in
    an oracle pair — the one JVM-Math.log-vs-libm-ln 1-ulp boundary risk
    this module otherwise eliminated), the query emits the exact
    integers (o, rt, ct, n) per cell and the consumer computes
    MI = Σ o·ln(o·n/(rt·ct))/n in its own float environment as a closed
    form over them — same division of labor as the nDCG eval's
    precomputed log table. χ² keeps its floored-per-cell e6 integer form
    (O·N − rt·ct)²/(rt·ct·N): no log, so no ULP risk class.

    Day-of-week is epoch-day mod 7 (pure integer; both engines' DOW
    builtins disagree on week start, so neither is used).

    Scale shape: one (type, dow) count aggregate; the contingency frame
    is |types|×7 rows — metadata-sized, so its margin windows (including
    the global-sum window) are deliberately tiny and the heavy input
    never re-shuffles. At extreme counts the O·N products leave the
    int64-exact double range; margins would move to decimal(38) —
    irrelevant at any tested scale."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cells = ev.groupBy(
        "event_type", (day % 7).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    # |types|×7 rows from here on — the unpartitioned window is config-sized.
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m = (
        cells.withColumn("rt", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(w_all))
    )
    num = F.col("o").cast("double") * F.col("n") - F.col("rt").cast("double") * F.col("ct")
    den = (F.col("rt").cast("double") * F.col("ct")) * F.col("n")
    chi2_term = F.floor(F.lit(1000000.0) * num * num / den).cast("long")
    return m.select(
        "event_type",
        "dow",
        F.col("o").cast("long").alias("o"),
        F.col("rt").cast("long").alias("rt"),
        F.col("ct").cast("long").alias("ct"),
        F.col("n").cast("long").alias("n"),
        chi2_term.alias("chi2_e6"),
    )


CONTINGENCY_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST((ts::DATE - DATE '1970-01-01') % 7 AS BIGINT) AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, dow, o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY dow) AS ct,
         sum(o) OVER () AS n
  FROM cells
)
SELECT event_type, dow,
       CAST(o AS BIGINT) AS o,
       CAST(rt AS BIGINT) AS rt,
       CAST(ct AS BIGINT) AS ct,
       CAST(n AS BIGINT) AS n,
       CAST(floor(1000000.0
                  * (CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
                  * (CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
                  / ((CAST(rt AS DOUBLE) * ct) * n)) AS BIGINT) AS chi2_e6
FROM m
"""


# --- deterministic Poisson-bootstrap CI ---------------------------------------

#: Poisson(1) CDF thresholds at 2^30 scale — EXACT Python ints computed
#: once and interpolated into both engines (no runtime transcendental):
#: count = #{t in thresholds : u >= t} for u = md5 % 2^30, capped at 7.
_POIS1_T = [395007542, 790015084, 987518855, 1053353446, 1069812093,
            1073103823, 1073652444]
BOOT_B = 32        #: resamples
BOOT_LO_RANK = 2   #: CI bounds as nearest-rank order statistics of the
BOOT_HI_RANK = 31  #: B resample means (a trimmed ~[3%, 97%] interval)


def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap confidence interval for the mean
    purchase value — the error bar every dashboard point estimate needs.
    Classic multinomial bootstrap resampling is unshuffleable at scale;
    the Poisson(1) approximation gives each row an independent resample
    weight, which is exactly the map-side-friendly streaming bootstrap
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012). "Randomness" is the house md5 wheel: u = md5(event_id,
    r) mod 2^30 against FIXED integer CDF thresholds — no rand(), no
    runtime exp().

    Exactness: weights and per-resample sums are exact integers; each
    resample mean is one non-negative integer division; the CI bounds
    are order statistics of the B means under a (mean, r) total order.

    Scale shape: explode ×B (a documented constant-factor map-side cost
    — the price of B resamples in one pass), then a B-row aggregate;
    the CI ranks run on the B-row frame. Nothing data-sized is sorted
    or collected."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        F.col("event_id").cast("string").alias("_eid"),
        cents("value").alias("_v"),
    )
    rep = base.select(
        "_eid", "_v", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("_r")
    )
    u = md5_int(
        F.concat(F.col("_eid"), F.lit(":"), F.col("_r").cast("string"), F.lit(":boot"))
    ) % F.lit(2**30)
    w = sum(
        (F.when(u >= F.lit(t), 1).otherwise(0) for t in _POIS1_T), F.lit(0)
    ).cast("long")
    per_r = (
        rep.withColumn("_w", w)
        .groupBy("_r")
        .agg(
            F.sum(F.col("_w") * F.col("_v")).alias("_ws"),
            F.sum("_w").alias("_wn"),
        )
        .withColumn(
            "_m", F.expr("CASE WHEN _wn > 0 THEN _ws div _wn END").cast("long")
        )
    )
    # B-row frame — bounded by config. NULLS LAST explicitly: a zero-
    # weight resample (possible only on tiny inputs) yields _m = NULL,
    # and Spark's ascending default is NULLS FIRST where DuckDB's is
    # NULLS LAST — the ranks must agree on BOTH engines.
    w_rank = Window.orderBy(F.asc_nulls_last("_m"), "_r")
    ranked = per_r.withColumn("_rn", F.row_number().over(w_rank))
    ci = ranked.agg(
        F.max(F.when(F.col("_rn") == BOOT_LO_RANK, F.col("_m"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("_rn") == BOOT_HI_RANK, F.col("_m"))).alias("ci_hi_cents"),
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
    )
    point = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("sum(_v) div count(*)").cast("long").alias("mean_cents"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_events", "mean_cents", "ci_lo_cents", "ci_hi_cents", "n_resamples"
    )


_BOOT_W = " + ".join(
    f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _POIS1_T
)

BOOTSTRAP_CI_SQL = f"""
WITH base AS (
  SELECT event_id::VARCHAR AS eid, {CENTS_SQL.format(x="value")} AS v
  FROM events WHERE event_type = 'purchase'
),
rep AS (
  SELECT eid, v, t.r,
         ('0x' || substr(md5(eid || ':' || t.r::VARCHAR || ':boot'), 1, 8))::BIGINT
           % {2**30} AS u
  FROM base CROSS JOIN range(0, {BOOT_B}) AS t(r)
),
per_r AS (
  SELECT r, sum(({_BOOT_W}) * v) AS ws, sum({_BOOT_W}) AS wn
  FROM rep GROUP BY 1
),
means AS (
  SELECT r, CASE WHEN wn > 0 THEN ws // wn END AS m FROM per_r
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, r) AS rn FROM means
),
ci AS (
  SELECT CAST(max(CASE WHEN rn = {BOOT_LO_RANK} THEN m END) AS BIGINT) AS ci_lo_cents,
         CAST(max(CASE WHEN rn = {BOOT_HI_RANK} THEN m END) AS BIGINT) AS ci_hi_cents,
         count(*)::BIGINT AS n_resamples
  FROM ranked
)
SELECT (SELECT count(*) FROM base)::BIGINT AS n_events,
       (SELECT CAST(sum(v) // count(*) AS BIGINT) FROM base) AS mean_cents,
       ci_lo_cents, ci_hi_cents, n_resamples
FROM ci
"""


# --- split-conformal coverage gate --------------------------------------------

CONF_ALPHA_NUM = 9     #: 1 - alpha = NUM/DEN (alpha = 0.1)
CONF_ALPHA_DEN = 10
CONF_COVERAGE_MIN_BP = 8600  #: pinned floor (nominal 9000; finite-sample slack)


def conformal_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction gate over purchase values: a per-type
    mean "model" is fit on a train split, the conformal quantile q̂ is
    the ⌈(n+1)(1−α)⌉-th smallest |residual| on a calibration split, and
    the gate asserts test-split coverage ≥ the pinned floor — the
    distribution-free uncertainty wrapper (Vovk; Angelopoulos & Bates
    survey) a serving pipeline runs before trusting point predictions.
    The split is md5-keyed BY USER (buckets 0,1=train / 2=cal / 3=test),
    so a user's events never straddle splits (exchangeability across
    users, the group-conformal variant).

    Exactness: predictions are floor-divided integer cents; residuals
    are exact integers; q̂ comes from an exact rank over the residual
    DOMAIN (cumulative counts per distinct residual value), and the
    target rank ⌈0.9(n+1)⌉ = ((n+1)·9 + 9) div 10 is pure integer
    arithmetic. Types absent from train are dropped by the inner join
    on both engines (documented). NULL values/users are excluded up
    front in BOTH engines: a NULL value carries no calibration
    information, and a NULL residual would otherwise enter the
    cumulative rank window where Spark's NULLS FIRST vs DuckDB's
    NULLS LAST default shifts the q̂ threshold (the r6 NULL-ordering
    divergence class — same fix as ks_value_drift_gate).

    Scale shape: split is a map-side hash; the model is a |types|-row
    broadcast; q̂'s running sum operates on the distinct-residual-cents
    domain (price-range-bounded, the ks_value_drift_gate justification);
    test coverage is one aggregate against the 1-row broadcast q̂."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "event_type",
        cents("value").alias("_v"),
        hash_bucket(F.col("user_id"), "conf", 4).alias("_b"),
    )
    train = base.filter(F.col("_b") <= 1)
    model = train.groupBy("event_type").agg(
        F.expr("sum(_v) div count(*)").cast("long").alias("_pred"),
    )
    cal = (
        base.filter(F.col("_b") == 2)
        .join(F.broadcast(model), "event_type")
        .select(F.abs(F.col("_v") - F.col("_pred")).alias("_s"))
    )
    per_s = cal.groupBy("_s").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_s.select("_s", F.sum("_c").over(w_cum).alias("_cum"))
    ncal = cum.agg(F.max("_cum").alias("_n"))
    qhat = (
        cum.crossJoin(F.broadcast(ncal))
        .filter(
            F.col("_cum")
            >= F.least(
                F.expr(
                    f"((_n + 1) * {CONF_ALPHA_NUM} + {CONF_ALPHA_DEN - 1})"
                    f" div {CONF_ALPHA_DEN}"
                ),
                F.col("_n"),
            )
        )
        .agg(F.min("_s").alias("_qhat"))
    )
    test = (
        base.filter(F.col("_b") == 3)
        .join(F.broadcast(model), "event_type")
        .select(F.abs(F.col("_v") - F.col("_pred")).alias("_s"))
    )
    cov = test.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).alias("_nt"),
        F.sum(F.when(F.col("_s") <= F.col("_qhat"), 1).otherwise(0)).alias("_nc"),
    )
    ntrain = train.agg(F.count(F.lit(1)).alias("_ntrain"))
    # qhat_cents attaches via its OWN 1-row broadcast (not max() over the
    # test frame): an empty test split would null it out on the Spark
    # side while the oracle's scalar subquery still emits the computed q̂
    return (
        cov.crossJoin(F.broadcast(ncal))
        .crossJoin(F.broadcast(ntrain))
        .crossJoin(F.broadcast(qhat))
        .select(
            F.col("_ntrain").cast("long").alias("n_train"),
            F.col("_n").cast("long").alias("n_cal"),
            F.col("_nt").cast("long").alias("n_test"),
            F.col("_qhat").cast("long").alias("qhat_cents"),
            F.expr("(_nc * 10000) div _nt").cast("long").alias("coverage_bp"),
            F.expr(
                f"CASE WHEN (_nc * 10000) div _nt >= {CONF_COVERAGE_MIN_BP}"
                " THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("gate_pass"),
        )
    )


CONFORMAL_SQL = f"""
WITH base AS (
  SELECT event_type, {CENTS_SQL.format(x="value")} AS v,
         ('0x' || substr(md5(user_id::VARCHAR || 'conf'), 1, 8))::BIGINT % 4 AS b
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
),
model AS (
  SELECT event_type, sum(v) // count(*) AS pred
  FROM base WHERE b <= 1 GROUP BY 1
),
cal AS (
  SELECT abs(v - pred) AS s FROM base JOIN model USING (event_type) WHERE b = 2
),
cum AS (
  SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM (
    SELECT s, count(*) AS c FROM cal GROUP BY 1)
),
ncal AS (SELECT max(cum) AS n FROM cum),
qhat AS (
  SELECT min(s) AS q FROM cum, ncal
  WHERE cum >= least(((n + 1) * {CONF_ALPHA_NUM} + {CONF_ALPHA_DEN - 1})
                     // {CONF_ALPHA_DEN}, n)
),
test AS (
  SELECT abs(v - pred) AS s FROM base JOIN model USING (event_type) WHERE b = 3
)
SELECT (SELECT count(*) FROM base WHERE b <= 1)::BIGINT AS n_train,
       (SELECT n FROM ncal)::BIGINT AS n_cal,
       count(*)::BIGINT AS n_test,
       (SELECT q FROM qhat)::BIGINT AS qhat_cents,
       CAST((sum(CASE WHEN s <= (SELECT q FROM qhat) THEN 1 ELSE 0 END) * 10000)
            // count(*) AS BIGINT) AS coverage_bp,
       CAST(CASE WHEN (sum(CASE WHEN s <= (SELECT q FROM qhat) THEN 1 ELSE 0 END)
                       * 10000) // count(*) >= {CONF_COVERAGE_MIN_BP}
                 THEN 1 ELSE 0 END AS BIGINT) AS gate_pass
FROM test
"""


# --- Mann-Whitney U two-sample test -------------------------------------------

def mann_whitney_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the purchase-value
    distributions of two md5-split user cohorts — the rank-based
    two-sample test that complements ks_value_drift_gate (KS compares
    CDF shape; U detects stochastic dominance and doubles as the
    common-language effect size AUC = U/(n_a*n_b)).

    Exactness: pooled MIDRANKS with tie correction are exact integers
    when doubled — for a distinct value v with cnt tied rows after
    cum_before rows, rank2(v) = 2*cum_before + cnt + 1 — so
    R1_x2 = sum(na_v * rank2_v) and U1_x2 = R1_x2 - n_a*(n_a+1) are
    exact int64s, and the effect size is one non-negative integer
    division. Undefined with an empty cohort: -1 sentinel, mirrored.

    Scale shape: one groupBy to the distinct-cents VALUE DOMAIN
    (price-range-bounded, the ks_value_drift_gate justification); the
    cumulative window runs over that domain, never the events."""
    # NULL values cannot be ranked and NULL user ids cannot be assigned
    # a cohort — both excluded in BOTH engines (review finding: a NULL
    # value group would sort NULLS FIRST in Spark / NULLS LAST in
    # DuckDB, shifting every midrank; a NULL cohort key hit the
    # when/otherwise-vs-CASE-ELSE asymmetry)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    g = ev.select(
        cents("value").alias("v"),
        (hash_bucket(F.col("user_id"), "mw", 2) == 0).alias("_a"),
    )
    per_v = g.groupBy("v").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "na",
        "nb",
        F.coalesce(F.sum(F.col("na") + F.col("nb")).over(w), F.lit(0)).alias(
            "_cb"
        ),
    )
    agg = ranked.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            F.col("na") * (2 * F.col("_cb") + F.col("na") + F.col("nb") + 1)
        )
        .cast("long")
        .alias("_r1x2"),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.expr("_r1x2 - n_a * (n_a + 1)").cast("long").alias("u1_x2"),
        F.expr("2 * n_a * n_b - (_r1x2 - n_a * (n_a + 1))")
        .cast("long")
        .alias("u2_x2"),
        # decimal(38) headroom: r1x2 grows ~2N², so the x10000 bp
        # numerator leaves int64 near N ≈ 7e7 rows/cohort (the KS gate's
        # documented pattern); the quotient is <= 10000 so long is safe
        F.expr(
            "CASE WHEN n_a > 0 AND n_b > 0 THEN"
            " (CAST(_r1x2 - n_a * (n_a + 1) AS DECIMAL(38,0)) * 10000)"
            " div (CAST(2 AS DECIMAL(38,0)) * n_a * n_b)"
            " ELSE -1 END"
        )
        .cast("long")
        .alias("auc_bp"),
    )


MANN_WHITNEY_SQL = """
WITH g AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         ('0x' || substr(md5(user_id::VARCHAR || 'mw'), 1, 8))::BIGINT % 2 = 0 AS a
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
),
per_v AS (
  SELECT v,
         sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb
  FROM g GROUP BY 1
),
ranked AS (
  SELECT v, na, nb,
         coalesce(sum(na + nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM per_v
),
agg AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(nb) AS BIGINT) AS n_b,
         sum(na * (2 * cb + na + nb + 1)) AS r1x2
  FROM ranked
)
SELECT n_a, n_b,
       CAST(r1x2 - n_a * (n_a + 1) AS BIGINT) AS u1_x2,
       CAST(2 * n_a * n_b - (r1x2 - n_a * (n_a + 1)) AS BIGINT) AS u2_x2,
       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
                 ((r1x2 - n_a * (n_a + 1)) * 10000) // (2 * n_a * n_b)
                 ELSE -1 END AS BIGINT) AS auc_bp
FROM agg
"""


# --- SPRT sequential conversion monitor ----------------------------------------

#: SPRT config: H0 conversion p0 vs H1 p1, alpha = beta = 0.05.
#: Per-trial log-likelihood-ratio increments in exact e6 integers,
#: computed ONCE in Python and interpolated into BOTH engines — the
#: no-runtime-transcendental house rule (ln differs between libms).
SPRT_P0 = Fraction(5, 100)
SPRT_P1 = Fraction(8, 100)
SPRT_L_SUCC = round(math.log(float(SPRT_P1 / SPRT_P0)) * 1_000_000)
SPRT_L_FAIL = round(
    math.log(float((1 - SPRT_P1) / (1 - SPRT_P0))) * 1_000_000
)
SPRT_A_E6 = round(math.log(0.95 / 0.05) * 1_000_000)   # accept H1 above
SPRT_B_E6 = round(math.log(0.05 / 0.95) * 1_000_000)   # accept H0 below


def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT over the daily purchase-conversion rate: each day adds
    successes*L1 + failures*L0 to a cumulative log-likelihood ratio and
    the monitor reports, per day, the running LLR and the sequential
    decision (accept_h1 / accept_h0 / continue at the Wald boundaries)
    — the early-stopping A/B monitor ab_test_zscore can't provide (the
    z-test needs a FIXED horizon; SPRT is valid at every look).

    Exactness: trials are exact daily counts (conversion = purchase
    events / all events); the LLR increments and both boundaries are
    precomputed e6 integers, so the cumulative sum and every decision
    are pure int64 arithmetic — bit-identical cross-engine.

    Scale shape: one groupBy to the |days|-row daily frame; the
    cumulative window runs over that calendar-bounded domain (the
    order_backlog_daily justification)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_trials"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_succ"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = daily.withColumn(
        "llr_e6",
        F.sum(
            F.col("n_succ") * F.lit(SPRT_L_SUCC)
            + (F.col("n_trials") - F.col("n_succ")) * F.lit(SPRT_L_FAIL)
        )
        .over(w)
        .cast("long"),
    )
    return llr.select(
        "day",
        "n_trials",
        "n_succ",
        "llr_e6",
        F.expr(
            f"CASE WHEN llr_e6 >= {SPRT_A_E6} THEN 'accept_h1'"
            f" WHEN llr_e6 <= {SPRT_B_E6} THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    )


SPRT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         count(*)::BIGINT AS n_trials,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_succ
  FROM events GROUP BY 1
)
SELECT day, n_trials, n_succ,
       CAST(sum(n_succ * {SPRT_L_SUCC}
                + (n_trials - n_succ) * {SPRT_L_FAIL})
            OVER (ORDER BY day) AS BIGINT) AS llr_e6,
       CASE WHEN sum(n_succ * {SPRT_L_SUCC}
                     + (n_trials - n_succ) * {SPRT_L_FAIL})
                 OVER (ORDER BY day) >= {SPRT_A_E6} THEN 'accept_h1'
            WHEN sum(n_succ * {SPRT_L_SUCC}
                     + (n_trials - n_succ) * {SPRT_L_FAIL})
                 OVER (ORDER BY day) <= {SPRT_B_E6} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM daily
"""


# --- CUPED variance-reduced A/B readout ----------------------------------------

#: pre/post period split (the drift-monitor cutoff: days 1-15 vs 16-30)
CUPED_CUTOFF = "2024-01-16"


def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13) over
    per-user purchase value: the pre-period total is the covariate,
    theta = cov(pre, post)/var(pre) is fit POOLED (assignment is
    random, so pooling is unbiased and lower-variance), and each md5
    cohort reports its raw and adjusted post-period means — the
    experimentation primitive that makes ab_test_zscore sensitive
    (variance shrinks by the pre/post correlation squared). Completes
    the testing suite: z-test (fixed horizon), SPRT (sequential),
    Mann-Whitney (rank), CUPED (variance reduction).

    Exactness: per-user period totals are exact integer cents
    (coalesced 0 — a user with no pre activity has covariate 0, the
    standard treatment); the linear moments are exact int64 sums and
    the QUADRATIC moments (pre·post, pre²) ride decimal(38,0)/HUGEINT —
    the r9 --bigmoney sweep caught the original int64 per-user product
    wrapping once a user's period total passed ~3e9 cents (pre² >
    9.2e18), well below a 100 TB whale account. All moments cast to
    double ONCE; theta and the adjusted means are a fixed-shape double
    expression written identically in both engines (the
    trend_revenue_by_nation pattern), guarded for zero covariate
    variance (degenerate inputs -> NULL, mirrored) and emitted through
    the floor form at e2.

    Scale shape: ONE shuffle to the per-user frame; the pooled moments
    are a 1-row broadcast; cohorts are a 2-row aggregate. Nothing else
    moves."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.to_date("ts") < F.lit(CUPED_CUTOFF), cents).otherwise(0)
        ).alias("_pre"),
        F.sum(
            F.when(F.to_date("ts") >= F.lit(CUPED_CUTOFF), cents).otherwise(0)
        ).alias("_post"),
    ).withColumn(
        "_g", hash_bucket(F.col("user_id"), "cuped", 2).cast("long")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_pre").alias("_sx"),
        F.sum("_post").alias("_sy"),
        F.sum(F.col("_pre").cast("decimal(38,0)") * F.col("_post")).alias("_sxy"),
        F.sum(F.col("_pre").cast("decimal(38,0)") * F.col("_pre")).alias("_sxx"),
    )
    g = per_user.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_post").alias("_gy"),
        F.sum("_pre").alias("_gx"),
    )
    j = g.crossJoin(F.broadcast(mom))
    den = (
        F.col("_n").cast("double") * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    theta = (
        F.col("_n").cast("double") * F.col("_sxy").cast("double")
        - F.col("_sx").cast("double") * F.col("_sy").cast("double")
    ) / den
    adj = (
        F.col("_gy").cast("double") / F.col("n_users")
        - theta
        * (
            F.col("_gx").cast("double") / F.col("n_users")
            - F.col("_sx").cast("double") / F.col("_n")
        )
    )
    return j.select(
        F.col("_g").alias("cohort"),
        "n_users",
        F.expr("_gy div n_users").cast("long").alias("mean_post_cents"),
        F.when(den > 0, F.floor(theta * 1000000 + F.lit(0.5)))
        .cast("long")
        .alias("theta_e6"),
        F.when(den > 0, F.floor(adj * 100 + F.lit(0.5)))
        .cast("long")
        .alias("adj_mean_e2"),
    )


CUPED_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN CAST(ts AS DATE) < DATE '{CUPED_CUTOFF}'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS pre,
         sum(CASE WHEN CAST(ts AS DATE) >= DATE '{CUPED_CUTOFF}'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS post,
         ('0x' || substr(md5(user_id::VARCHAR || 'cuped'), 1, 8))::BIGINT % 2 AS g
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre) AS BIGINT) AS sx,
         CAST(sum(post) AS BIGINT) AS sy,
         CAST(sum(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS sxy,
         CAST(sum(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sxx
  FROM per_user
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(post) AS BIGINT) AS gy,
         CAST(sum(pre) AS BIGINT) AS gx
  FROM per_user GROUP BY 1
)
SELECT CAST(g AS BIGINT) AS cohort, n_users,
       CAST(gy // n_users AS BIGINT) AS mean_post_cents,
       CAST(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
            THEN floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                       * 1000000 + 0.5) END AS BIGINT) AS theta_e6,
       CAST(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
            THEN floor((CAST(gy AS DOUBLE) / n_users
                        - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                          * (CAST(gx AS DOUBLE) / n_users
                             - CAST(sx AS DOUBLE) / n)) * 100 + 0.5)
            END AS BIGINT) AS adj_mean_e2
FROM grp CROSS JOIN mom
"""


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


# --- group-sequential O'Brien-Fleming monitor ---------------------------------

#: number of planned interim looks
GSQ_LOOKS = 5
#: O'Brien-Fleming final-look critical value for K=5 two-sided α=0.05
#: (O'Brien & Fleming 1979; standard table value). The k-th boundary is
#: C·sqrt(K/k) — computed HERE, once, in Python (the nDCG pre-floored
#: constant pattern) and interpolated into both engines as literals; no
#: runtime transcendental.
GSQ_OBF_C = 2.040
GSQ_BOUNDS = [
    round(GSQ_OBF_C * math.sqrt(GSQ_LOOKS / k), 4) for k in range(1, GSQ_LOOKS + 1)
]  # [4.5616, 3.2255, 2.6336, 2.2808, 2.04]
#: conversion definition shared with ab_test_zscore (purchase above 150)
GSQ_CONV_MIN = 150


def group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential A/B monitor: users enroll at
    their first event day, the enrollment calendar is cut into
    GSQ_LOOKS equal rank-buckets (ntile over the bounded distinct-day
    frame), and at each look the monitor tests the CUMULATIVE
    two-proportion z against the OBF boundary C·sqrt(K/k) — very strict
    early (4.56 σ at look 1), nominal at the end (2.04 σ) — spending
    almost no α on interim peeks. Completes the experimentation suite
    as the fixed-horizon sibling of sprt_conversion_monitor: the SPRT
    decides after every observation; OBF decides at K planned looks.

    Exactness: cumulative cell counts are exact int64 running sums over
    the ≤K-row look frame; z composes correctly-rounded IEEE divisions
    and one sqrt of integer-valued doubles with the identical expression
    shape on both sides (the ab_test_zscore precedent); boundaries are
    Python-computed literals; ``crossed`` compares the FLOOR-ROUNDED z
    (4 dp) against the 4-dp boundary literal, so both engines compare
    identical doubles. Degenerate looks (an empty arm or zero pooled
    variance) emit NULL z and NULL crossed via mirrored CASE.

    Scale shape: one user-keyed aggregate off the scan (the only
    data-sized shuffle), a distinct-day frame (calendar-bounded) for
    the ntile look assignment joined back as a broadcast, a (look, arm)
    aggregate to ≤2K rows, and running sums over the ≤K-row frame —
    the unpartitioned windows sit on aggregate-reduced, look-bounded
    frames."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # NULL-day users (all-NULL ts) are excluded in BOTH engines BEFORE the
    # ntile: Spark's ascending ntile sorts NULLS FIRST, DuckDB's NULLS
    # LAST, so a NULL day would shift every look-bucket boundary (the r6
    # bootstrap_ci NULL-ordering class, caught in this round's review)
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_day"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > GSQ_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("_conv"),
    ).filter(F.col("_day").isNotNull())
    arms = users.withColumn(
        "_arm", md5_int(F.concat(F.col("user_id").cast("string"), F.lit("gsq"))) % 2
    )
    days = (
        users.select("_day")
        .distinct()
        .withColumn("_look", F.ntile(GSQ_LOOKS).over(Window.orderBy("_day")))
    )
    looks = (
        arms.join(F.broadcast(days), "_day")
        .groupBy("_look")
        .agg(
            F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("_na"),
            F.sum(F.when(F.col("_arm") == 0, F.col("_conv")).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("_nb"),
            F.sum(F.when(F.col("_arm") == 1, F.col("_conv")).otherwise(0)).alias("_cb"),
        )
    )
    w_cum = Window.orderBy("_look").rowsBetween(Window.unboundedPreceding, 0)
    cum = looks.select(
        "_look",
        F.sum("_na").over(w_cum).cast("long").alias("n_a"),
        F.sum("_ca").over(w_cum).cast("long").alias("conv_a"),
        F.sum("_nb").over(w_cum).cast("long").alias("n_b"),
        F.sum("_cb").over(w_cum).cast("long").alias("conv_b"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    z4 = F.floor(
        (p_a - p_b) / F.sqrt(var) * 10000 + F.lit(0.5)
    ) / 10000  # floor-form portable round, 4 dp
    bound = F.element_at(
        F.array(*[F.lit(b) for b in GSQ_BOUNDS]), F.col("_look").cast("int")
    )
    zcol = F.when(both & (F.when(both, var) > 0), z4)
    return cum.select(
        F.col("_look").cast("long").alias("look"),
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        zcol.alias("zscore"),
        bound.alias("boundary"),
        F.when(
            zcol.isNotNull(), F.when(F.abs(zcol) >= bound, 1).otherwise(0)
        ).cast("long").alias("crossed"),
    )


# exponent suffix forces DOUBLE literals in DuckDB (a bare 2.2806 would be
# DECIMAL, and DECIMAL→DOUBLE conversion can differ from the parsed double
# by 1 ulp); string→double parsing is correctly rounded in both engines, so
# these are bit-identical to Spark's F.lit(b)
_GSQ_BOUNDS_SQL = ", ".join(f"{b}e0" for b in GSQ_BOUNDS)

GSQ_SQL = f"""
WITH users AS (
  SELECT user_id, min(ts::DATE) AS day,
         max(CASE WHEN event_type = 'purchase' AND value > {GSQ_CONV_MIN}
                  THEN 1 ELSE 0 END) AS conv,
         ('0x' || substr(md5(user_id::VARCHAR || 'gsq'), 1, 8))::BIGINT % 2 AS arm
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
  HAVING min(ts::DATE) IS NOT NULL
),
days AS (
  SELECT day, ntile({GSQ_LOOKS}) OVER (ORDER BY day) AS look
  FROM (SELECT DISTINCT day FROM users)
),
looks AS (
  SELECT look,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS ca,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS cb
  FROM users JOIN days USING (day) GROUP BY look
),
cum AS (
  SELECT look,
         sum(na) OVER w AS n_a, sum(ca) OVER w AS conv_a,
         sum(nb) OVER w AS n_b, sum(cb) OVER w AS conv_b
  FROM looks
  WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
g AS (
  SELECT look, n_a, conv_a, n_b, conv_b,
         CASE WHEN n_a > 0 AND n_b > 0
              THEN ((conv_a + conv_b) / (n_a + n_b))
                   * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b) END AS var,
         ([{_GSQ_BOUNDS_SQL}])[look]::DOUBLE AS boundary
  FROM cum
),
z AS (
  SELECT *, CASE WHEN var > 0
                 THEN floor((conv_a / n_a - conv_b / n_b) / sqrt(var)
                            * 10000 + 0.5) / 10000 END AS zscore
  FROM g
)
SELECT CAST(look AS BIGINT) AS look,
       CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       zscore, boundary,
       CAST(CASE WHEN zscore IS NOT NULL
                 THEN CASE WHEN abs(zscore) >= boundary THEN 1 ELSE 0 END
            END AS BIGINT) AS crossed
FROM z
"""


# --- IPW average-treatment-effect estimate ------------------------------------

def ipw_ate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE — the OBSERVATIONAL member of the
    causal suite (z → SPRT → Mann-Whitney → CUPED → DiD → IPW):
    treatment is NOT randomized here ("clicked at least once", which
    confounds with engagement), so arm means are biased; IPW reweights
    by the estimated propensity e(x) = P(T|X=x) within activity strata
    x = ilog2(user event count) (≤ ~40 bins, bounded) to recover the
    ATE on purchase spend under unconfoundedness-given-activity.

    Exactness: propensities stay RATIONAL (t_x/n_x) — each bin's IPW
    term Σy·n_x/t_x is computed as the exact integer floor
    ``(ysum·n_x) div t_x`` (decimal(38,0)/HUGEINT product headroom) and
    summed as integers (order-independent — the q1/BM25 lesson: never
    sum per-bin doubles). The final ATE is ONE division of
    exact-integer-valued doubles (identical shape both engines, the
    DiD precedent), floor-rounded to 4 dp. Bins without positivity
    (t_x = 0 or t_x = n_x) are EXCLUDED and reported — the textbook
    overlap violation, surfaced not hidden.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), one ≤40-row bin aggregate, one global roll-up."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nev"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("_t"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull()
                & (F.col("value") >= 0),
                cents("value"),
            ).otherwise(0)
        ).alias("_y"),
    )
    bins = (
        users.withColumn("_x", F.expr("length(bin(_nev))"))
        .groupBy("_x")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_t").alias("_tn"),
            F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0)).alias("_yt"),
            F.sum(F.when(F.col("_t") == 0, F.col("_y")).otherwise(0)).alias("_yc"),
        )
    )
    dec = "CAST(_yt AS DECIMAL(38,0))"
    decc = "CAST(_yc AS DECIMAL(38,0))"
    terms = bins.select(
        "_x",
        "_n",
        "_tn",
        F.expr("_tn > 0 AND _tn < _n").alias("_pos"),
        F.expr(
            f"CASE WHEN _tn > 0 AND _tn < _n THEN CAST(({dec} * _n) div _tn AS BIGINT) END"
        ).alias("_wt"),
        F.expr(
            f"CASE WHEN _tn > 0 AND _tn < _n THEN CAST(({decc} * _n) div (_n - _tn) AS BIGINT) END"
        ).alias("_wc"),
    )
    out = terms.agg(
        F.sum(F.when(F.col("_pos"), F.col("_n")).otherwise(0)).cast("long").alias("n_users"),
        F.count(F.when(F.col("_pos"), 1)).cast("long").alias("n_bins_used"),
        F.count(F.when(~F.col("_pos"), 1)).cast("long").alias("n_bins_excluded"),
        F.sum("_wt").alias("_swt"),
        F.sum("_wc").alias("_swc"),
    )
    ate = F.expr(
        "CASE WHEN n_users > 0 THEN"
        " floor((CAST(_swt AS DOUBLE) - CAST(_swc AS DOUBLE)) / n_users / 100"
        " * 10000 + 0.5) / 10000 END"
    )
    return out.select(
        "n_users", "n_bins_used", "n_bins_excluded", ate.alias("ate_dollars")
    )


IPW_SQL = f"""
WITH users AS (
  SELECT user_id, count(*) AS nev,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS t,
         sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL AND value >= 0
                  THEN {CENTS_SQL.format(x="value")} ELSE 0 END) AS y
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
bins AS (
  SELECT length(bin(nev)) AS x, count(*) AS n, sum(t) AS tn,
         sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS yt,
         sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS yc
  FROM users GROUP BY 1
),
terms AS (
  SELECT n, tn > 0 AND tn < n AS pos,
         CASE WHEN tn > 0 AND tn < n
              THEN CAST((CAST(yt AS HUGEINT) * n) // tn AS BIGINT) END AS wt,
         CASE WHEN tn > 0 AND tn < n
              THEN CAST((CAST(yc AS HUGEINT) * n) // (n - tn) AS BIGINT) END AS wc
  FROM bins
),
s AS (
  SELECT CAST(sum(CASE WHEN pos THEN n ELSE 0 END) AS BIGINT) AS n_users,
         CAST(count(CASE WHEN pos THEN 1 END) AS BIGINT) AS n_bins_used,
         CAST(count(CASE WHEN NOT pos THEN 1 END) AS BIGINT) AS n_bins_excluded,
         sum(wt) AS swt, sum(wc) AS swc
  FROM terms
)
SELECT n_users, n_bins_used, n_bins_excluded,
       CASE WHEN n_users > 0 THEN
         floor((CAST(swt AS DOUBLE) - CAST(swc AS DOUBLE)) / n_users / 100
               * 10000 + 0.5) / 10000 END AS ate_dollars
FROM s
"""


# --- A/B power / minimum-detectable-effect readout ------------------------------

#: two-sided alpha=0.05 and power=0.80 normal quantiles (plan-build
#: constants — the OBF-boundary pattern): z_{0.975} + z_{0.80}
AB_POWER_ZSUM = round(1.959964 + 0.841621, 6)  # 2.801585


def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design-side power readout for the standing A/B test: the minimum
    detectable effect at alpha=0.05 / power=0.80 given the CURRENT arm
    sizes and pooled conversion rate — mde = (z_a + z_b)·sqrt(p̄(1−p̄)
    ·(1/n_a + 1/n_b)) — plus whether the observed |rate_diff| clears
    it. The experimentation suite's missing design-side member: the
    z/SPRT/OBF monitors DECIDE on observed data; this one says what
    effect size the experiment could even see.

    Exactness: integer cell counts; z-quantile sum is a Python
    plan-build literal; mde composes correctly-rounded IEEE ops on
    integer-valued doubles with identical shape both sides
    (ab_test_zscore precedent); ``powered`` compares the two
    floor-rounded 6-dp values, identical doubles in both engines.
    Degenerate (empty arm, degenerate pooled rate) emits NULLs via
    mirrored CASE.

    Scale shape: one user-keyed aggregate, one global roll-up — ONE
    output row regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > GSQ_CONV_MIN), 1
            ).otherwise(0)
        ).alias("_conv")
    )

    arms = users.withColumn("_arm", hash_bucket(F.col("user_id"), "ab") % 2)
    stats = arms.agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_conv")).otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_conv")).otherwise(0)).cast("long").alias("conv_b"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    mde6 = F.floor(
        F.lit(AB_POWER_ZSUM) * F.sqrt(var) * 1000000 + F.lit(0.5)
    ) / 1000000
    diff6 = F.floor(
        (F.col("conv_a") / F.col("n_a") - F.col("conv_b") / F.col("n_b"))
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    mcol = F.when(both & (F.when(both, var) > 0), mde6)
    dcol = F.when(both, diff6)
    return stats.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        dcol.alias("rate_diff"),
        mcol.alias("mde"),
        F.when(
            mcol.isNotNull() & dcol.isNotNull(),
            F.when(F.abs(dcol) >= mcol, 1).otherwise(0),
        )
        .cast("long")
        .alias("powered"),
    )


AB_POWER_SQL = f"""
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {GSQ_CONV_MIN} THEN 1 ELSE 0 END) AS conv,
         ('0x' || substr(md5(user_id::VARCHAR || 'ab'), 1, 8))::BIGINT % 10000 % 2 AS arm
  FROM events GROUP BY user_id
),
s AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
  FROM users
),
g AS (
  SELECT *,
         CASE WHEN n_a > 0 AND n_b > 0
              THEN ((conv_a + conv_b) / (n_a + n_b))
                   * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b) END AS var
  FROM s
),
m AS (
  SELECT *,
         CASE WHEN var > 0
              THEN floor({AB_POWER_ZSUM}e0 * sqrt(var) * 1000000 + 0.5) / 1000000
         END AS mde,
         CASE WHEN n_a > 0 AND n_b > 0
              THEN floor((conv_a / n_a - conv_b / n_b) * 1000000 + 0.5) / 1000000
         END AS rate_diff
  FROM g
)
SELECT n_a, conv_a, n_b, conv_b, rate_diff, mde,
       CAST(CASE WHEN mde IS NOT NULL AND rate_diff IS NOT NULL
                 THEN CASE WHEN abs(rate_diff) >= mde THEN 1 ELSE 0 END
            END AS BIGINT) AS powered
FROM m
"""


# --- A/B covariate balance (standardized mean difference) ----------------------

#: |SMD| threshold below which a covariate counts as balanced (the
#: conventional 0.1 rule of thumb)
SMD_BALANCE_LIMIT = 0.1


def ab_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight covariate balance for the standing md5 A/B split:
    standardized mean difference per pre-treatment covariate (user
    event count; user spend cents) between the two arms — SMD =
    (x̄_a − x̄_b)/sqrt((s²_a + s²_b)/2). Randomization bugs (a biased
    hash, a leaky assignment) show up HERE before any outcome is read;
    |SMD| ≤ 0.1 is the conventional balance rule.

    Exactness: per-arm (n, S, Q) moments are exact integers (Q rides
    decimal(38,0)/HUGEINT); the SMD composes correctly-rounded IEEE
    divisions and one sqrt of integer-valued doubles with identical
    expression shape both sides (variance via the n·Q − S² form on
    exact integers; the ab_test_zscore/overdispersion precedent),
    floor-rounded to 4 dp; ``balanced`` compares the rounded value to
    the literal. Degenerate (either arm n < 2 or zero pooled variance)
    emits NULLs via mirrored CASE.

    Scale shape: one user-keyed aggregate, one 2-row-per-covariate
    roll-up — output is |covariates| rows regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nev"),
        F.sum(
            F.when(
                F.col("value").isNotNull() & (F.col("value") >= 0), cents("value")
            ).otherwise(0)
        ).alias("_sp"),
    ).withColumn("_arm", hash_bucket(F.col("user_id"), "ab") % 2)
    covs = users.select("_arm", F.col("_nev").alias("_v"), F.lit("event_count").alias("cov")).unionByName(
        users.select("_arm", F.col("_sp").alias("_v"), F.lit("spend_cents").alias("cov"))
    )
    m = covs.groupBy("cov").agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("_na"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_v")).otherwise(0)).alias("_sa"),
        F.sum(
            F.when(
                F.col("_arm") == 0, F.col("_v").cast("decimal(38,0)") * F.col("_v")
            ).otherwise(0)
        ).alias("_qa"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("_nb"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_v")).otherwise(0)).alias("_sb"),
        F.sum(
            F.when(
                F.col("_arm") == 1, F.col("_v").cast("decimal(38,0)") * F.col("_v")
            ).otherwise(0)
        ).alias("_qb"),
    )
    # var = (n·Q − S²) / (n·(n−1)) per arm, exact-integer numerators
    va = "((_na * _qa - CAST(_sa AS DECIMAL(38,0)) * _sa))"
    vb = "((_nb * _qb - CAST(_sb AS DECIMAL(38,0)) * _sb))"
    ok = "_na >= 2 AND _nb >= 2"
    smd = F.expr(
        f"CASE WHEN {ok} AND (CAST({va} AS DOUBLE) / _na / (_na - 1)"
        f" + CAST({vb} AS DOUBLE) / _nb / (_nb - 1)) > 0 THEN"
        f" floor((CAST(_sa AS DOUBLE) / _na - CAST(_sb AS DOUBLE) / _nb)"
        f" / sqrt((CAST({va} AS DOUBLE) / _na / (_na - 1)"
        f"         + CAST({vb} AS DOUBLE) / _nb / (_nb - 1)) / 2)"
        " * 10000 + 0.5) / 10000 END"
    )
    return m.select(
        "cov",
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        smd.alias("smd"),
        F.when(
            smd.isNotNull(),
            F.when(F.abs(smd) <= SMD_BALANCE_LIMIT, 1).otherwise(0),
        )
        .cast("long")
        .alias("balanced"),
    )


SMD_SQL = f"""
WITH users AS (
  SELECT user_id, count(*) AS nev,
         sum(CASE WHEN value IS NOT NULL AND value >= 0
                  THEN {CENTS_SQL.format(x="value")} ELSE 0 END) AS sp,
         ('0x' || substr(md5(user_id::VARCHAR || 'ab'), 1, 8))::BIGINT % 10000 % 2 AS arm
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
covs AS (
  SELECT arm, nev AS v, 'event_count' AS cov FROM users
  UNION ALL
  SELECT arm, sp, 'spend_cents' FROM users
),
m AS (
  SELECT cov,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN arm = 0 THEN v ELSE 0 END) AS sa,
         sum(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS sb,
         sum(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
  FROM covs GROUP BY cov
),
g AS (
  SELECT *,
         CASE WHEN na >= 2 AND nb >= 2 THEN
           CAST(na * qa - CAST(sa AS HUGEINT) * sa AS DOUBLE) / na / (na - 1)
           + CAST(nb * qb - CAST(sb AS HUGEINT) * sb AS DOUBLE) / nb / (nb - 1)
         END AS v2
  FROM m
),
z AS (
  SELECT cov, na, nb,
         CASE WHEN v2 > 0 THEN
           floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                 / sqrt(v2 / 2) * 10000 + 0.5) / 10000 END AS smd
  FROM g
)
SELECT cov, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, smd,
       CAST(CASE WHEN smd IS NOT NULL
                 THEN CASE WHEN abs(smd) <= {SMD_BALANCE_LIMIT} THEN 1 ELSE 0 END
            END AS BIGINT) AS balanced
FROM z
"""


# --- two-cohort log-rank test ----------------------------------------------------

#: censoring rule shared with survival_hazard_daily
LOGRANK_CENSOR_DAYS = 7


def logrank_survival_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort log-rank test over user lifetimes: the standing md5
    A/B arms (the ab_test_zscore / ab_covariate_balance wheel) are
    compared on time-to-churn — per distinct event duration d, the
    hypergeometric observed-minus-expected term for arm A,
    e1 − e·n1/n, and its variance e·(n1/n)·(n2/n)·(n−e)/(n−1) over the
    at-risk sets, with running sums whose final row is the log-rank
    statistic's numerator and variance. survival_hazard_daily
    ESTIMATES one hazard curve; this TESTS whether two differ — the
    experiment-readout member of the survival family. Lifetimes and
    censoring (gap < 7 days at corpus end = right-censored) mirror
    survival_hazard_daily exactly.

    Exactness: risk sets and event counts are exact integers from
    desc-ordered running sums; the O−E and variance terms are
    fixed-shape floor(1e6·expr) doubles over those integers (the
    did_e6 precedent), so the asc running sums accumulate ALREADY
    floored integers — order can't diverge. nrisk = 1 makes the
    variance undefined: NULL via mirrored CASE (sum() skips NULLs in
    both engines).

    Scale shape: one per-user aggregate (the only data-sized shuffle),
    a 1-row corpus-end anchor broadcast (whitelisted — the
    survival_hazard_daily shape); all windows run on the
    calendar-bounded distinct-duration frame."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_first"),
        F.max(F.to_date("ts")).alias("_last"),
    )
    anchor = users.agg(F.max("_last").alias("_end"))
    lifetimes = users.crossJoin(F.broadcast(anchor)).select(
        F.datediff("_last", "_first").alias("duration"),
        F.when(F.datediff("_end", "_last") >= LOGRANK_CENSOR_DAYS, 1)
        .otherwise(0)
        .alias("_event"),
        (hash_bucket(F.col("user_id"), "ab") % 2).alias("_arm"),
    )
    per_d = lifetimes.groupBy("duration").agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("_m1"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("_m2"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_event")).otherwise(0)).alias("_e1"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_event")).otherwise(0)).alias("_e2"),
    )
    w_desc = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_d.select(
        "duration",
        "_e1",
        "_e2",
        F.sum("_m1").over(w_desc).alias("_r1"),
        F.sum("_m2").over(w_desc).alias("_r2"),
    ).filter(F.col("_e1") + F.col("_e2") >= 1)
    oe = F.expr(
        "CAST(floor(1000000.0 * (_e1 - CAST(_e1 + _e2 AS DOUBLE) * _r1"
        " / (_r1 + _r2))) AS BIGINT)"
    )
    v = F.expr(
        "CASE WHEN _r1 + _r2 > 1 THEN"
        " CAST(floor(1000000.0 * (CAST(_e1 + _e2 AS DOUBLE) * _r1 / (_r1 + _r2)"
        " * _r2 / (_r1 + _r2)"
        " * ((_r1 + _r2) - (_e1 + _e2)) / ((_r1 + _r2) - 1))) AS BIGINT) END"
    )
    terms = risk.select(
        "duration", "_e1", "_e2", "_r1", "_r2", oe.alias("_oe"), v.alias("_v")
    )
    w_asc = Window.orderBy(F.asc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return terms.select(
        F.col("duration").cast("long").alias("duration"),
        F.col("_r1").cast("long").alias("n_risk_a"),
        F.col("_r2").cast("long").alias("n_risk_b"),
        F.col("_e1").cast("long").alias("events_a"),
        F.col("_e2").cast("long").alias("events_b"),
        F.col("_oe").alias("oe_e6"),
        F.col("_v").alias("v_e6"),
        F.sum("_oe").over(w_asc).cast("long").alias("cum_oe_e6"),
        F.sum("_v").over(w_asc).cast("long").alias("cum_v_e6"),
    )


LOGRANK_SQL = f"""
WITH users AS (
  SELECT user_id, min(ts::DATE) AS f, max(ts::DATE) AS l,
         ('0x' || substr(md5(user_id::VARCHAR || 'ab'), 1, 8))::BIGINT
           % 10000 % 2 AS arm
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
anchor AS (SELECT max(l) AS e FROM users),
lifetimes AS (
  SELECT (l - f) AS duration,
         CASE WHEN (e - l) >= {LOGRANK_CENSOR_DAYS} THEN 1 ELSE 0 END AS ev,
         arm
  FROM users, anchor
),
per_d AS (
  SELECT duration,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS m1,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS m2,
         sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS e1,
         sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS e2
  FROM lifetimes GROUP BY 1
),
risk AS (
  SELECT duration, e1, e2,
         sum(m1) OVER (ORDER BY duration DESC) AS r1,
         sum(m2) OVER (ORDER BY duration DESC) AS r2
  FROM per_d
),
terms AS (
  SELECT duration, e1, e2, r1, r2,
         CAST(floor(1000000.0 * (e1 - CAST(e1 + e2 AS DOUBLE) * r1
              / (r1 + r2))) AS BIGINT) AS oe,
         CASE WHEN r1 + r2 > 1 THEN
           CAST(floor(1000000.0 * (CAST(e1 + e2 AS DOUBLE) * r1 / (r1 + r2)
                * r2 / (r1 + r2)
                * ((r1 + r2) - (e1 + e2)) / ((r1 + r2) - 1))) AS BIGINT) END AS v
  FROM risk WHERE e1 + e2 >= 1
)
SELECT CAST(duration AS BIGINT) AS duration,
       CAST(r1 AS BIGINT) AS n_risk_a,
       CAST(r2 AS BIGINT) AS n_risk_b,
       CAST(e1 AS BIGINT) AS events_a,
       CAST(e2 AS BIGINT) AS events_b,
       oe AS oe_e6,
       v AS v_e6,
       CAST(sum(oe) OVER (ORDER BY duration) AS BIGINT) AS cum_oe_e6,
       CAST(sum(v) OVER (ORDER BY duration) AS BIGINT) AS cum_v_e6
FROM terms
"""


# --- Kruskal-Wallis rank test across event types ---------------------------------


def kruskal_wallis_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of the event-value distributions across
    event types — the k-group extension of mann_whitney_value_test:
    does ANY type's value distribution stochastically dominate? Uses
    pooled tie-corrected midranks over the distinct-cents value
    domain.

    Exactness: doubled midranks are exact integers (the MW-U identity
    rank2(v) = 2·cum_before + cnt_v + 1); per-group doubled rank sums
    R_g_x2 are exact; the statistic folds the FLOORED group terms
    S = Σ_g (R_g_x2² div n_g) — each term one non-negative integer
    division in decimal(38,0)/HUGEINT, so both engines fold identical
    integers (the floored-S statistic is the documented one; the floor
    loses < k against magnitudes of N²). H = 3·S/(N(N+1)) − 3(N+1) —
    the doubled ranks make S/4 = Σ R_g²/n_g, absorbing 12/4 = 3 (hand
    oracle: values {1,2,3} in 3 singleton groups → H = 2, reproduced) —
    and the tie-corrected H' = H·(N³−N)/((N³−N) − ΣT) are fixed-shape
    doubles over those exact integers, floored at e6 (the did_e6
    precedent). Degenerate — fewer than 2 groups, N < 2, or all values
    tied ((N³−N) = ΣT) — emits NULL via mirrored CASE.

    Scale shape: one groupBy to the (value, type) frame bounded by the
    distinct-cents domain × |types| (the mann_whitney justification);
    the rank window runs over the value domain, never the events; the
    1-row tie-term frame attaches broadcast (whitelisted)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    pvt = ev.groupBy(
        cents("value").alias("_v"), F.col("event_type").alias("_g")
    ).agg(F.count(F.lit(1)).alias("_c"))
    per_v = pvt.groupBy("_v").agg(F.sum("_c").alias("_cv"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "_v",
        (
            2 * F.coalesce(F.sum("_cv").over(w), F.lit(0))
            + F.col("_cv")
            + F.lit(1)
        ).alias("_rank2"),
        (
            F.col("_cv").cast("decimal(38,0)") * F.col("_cv") * F.col("_cv")
            - F.col("_cv")
        ).alias("_t3t"),
    )
    groups = (
        pvt.join(ranked.select("_v", "_rank2"), "_v")
        .groupBy("_g")
        .agg(
            F.sum("_c").alias("_ng"),
            F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_rank2")).alias(
                "_rx2"
            ),
        )
    )
    # floor(rx2²/n) via the EXACT decomposition (rx2 div n)·rx2 +
    # ((rx2 mod n)·rx2) div n — the direct (rx2·rx2) div n form overflows
    # int64 at the 100-copy stress decade because Spark `div` returns
    # BIGINT while rx2²/n reaches ~10²³ (DuckDB's HUGEINT `//` survives,
    # an engine-crash asymmetry caught by weak-scaling); the identity is
    # exact, and the largest intermediate, (rx2 % ng)·rx2 ~ ng·rx2 ~
    # 2·N³, stays inside decimal(38,0)/HUGEINT up to N ≈ 3.7e12 events
    # (~17 decades past the tested sf100, but BELOW an unfiltered
    # 100 TB-of-events row count — past that bound Spark non-ANSI would
    # return silent NULL; a third-level decomposition of rx2 before the
    # multiply would extend it if that scale is ever certified).
    term = (
        "CAST(_rx2 div _ng AS DECIMAL(38,0)) * _rx2"
        " + (CAST(_rx2 % _ng AS DECIMAL(38,0)) * _rx2) div _ng"
    )
    gagg = groups.agg(
        F.sum("_ng").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.expr(term)).alias("_s"),
    )
    ties = ranked.agg(F.sum("_t3t").alias("_tsum"))
    both = gagg.crossJoin(F.broadcast(ties))
    h = (
        "floor(1000000.0 * (3.0 * CAST(_s AS DOUBLE) / _n / (_n + 1)"
        " - 3.0 * (_n + 1)))"
    )
    corr = "CAST(_n AS DECIMAL(38,0)) * _n * _n - _n"
    return both.select(
        F.col("_n").cast("long").alias("n_total"),
        F.col("_k").cast("long").alias("k_groups"),
        F.expr(
            f"CASE WHEN _n >= 2 AND _k >= 2 THEN CAST({h} AS BIGINT) END"
        ).alias("h_e6"),
        F.expr(
            f"CASE WHEN _n >= 2 AND _k >= 2 AND ({corr}) > _tsum THEN"
            f" CAST(floor(CAST({h} AS DOUBLE)"
            f" * CAST({corr} AS DOUBLE) / CAST(({corr}) - _tsum AS DOUBLE))"
            " AS BIGINT) END"
        ).alias("h_corr_e6"),
    )


KRUSKAL_SQL = f"""
WITH pvt AS (
  SELECT {CENTS_SQL.format(x="value")} AS v, event_type AS g, count(*) AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
per_v AS (SELECT v, sum(c) AS cv FROM pvt GROUP BY 1),
ranked AS (
  SELECT v,
         2 * coalesce(sum(cv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cv + 1 AS rank2,
         CAST(cv AS HUGEINT) * cv * cv - cv AS t3t
  FROM per_v
),
groups AS (
  SELECT g, sum(c) AS ng, sum(CAST(c AS HUGEINT) * rank2) AS rx2
  FROM pvt JOIN ranked USING (v) GROUP BY 1
),
gagg AS (
  -- mirrored exact floor decomposition (see the Spark side): equal to
  -- floor(rx2²/ng) by the division identity, headroom-safe both sides
  SELECT sum(ng) AS n, count(*) AS k,
         sum((rx2 // ng) * rx2 + ((rx2 % ng) * rx2) // ng) AS s
  FROM groups
),
ties AS (SELECT sum(t3t) AS tsum FROM ranked)
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_groups,
       CASE WHEN n >= 2 AND k >= 2 THEN
         CAST(floor(1000000.0 * (3.0 * CAST(s AS DOUBLE) / n / (n + 1)
              - 3.0 * (n + 1))) AS BIGINT) END AS h_e6,
       CASE WHEN n >= 2 AND k >= 2
                 AND (CAST(n AS HUGEINT) * n * n - n) > tsum THEN
         CAST(floor(CAST(floor(1000000.0 * (3.0 * CAST(s AS DOUBLE)
                / n / (n + 1) - 3.0 * (n + 1))) AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)
              / CAST((CAST(n AS HUGEINT) * n * n - n) - tsum AS DOUBLE))
              AS BIGINT) END AS h_corr_e6
FROM gagg CROSS JOIN ties
"""


# --- Cochran-Armitage trend test (conversion vs ordered activity bins) -----------

#: two-sided α = 0.05 normal critical value, e6-scaled plan literal
CA_CRIT_E6 = 1_959_964


def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend in conversion rate
    across ORDERED activity bins (ilog2 of per-user event count — the
    ipw/brier stratification; scores s_i = the bin index itself): with
    per-bin (n_i, k_i) and totals (N, K), T = Σ s_i·k_i,
    E[T] = K·Σ s_i·n_i / N, Var[T] = K(N−K)/(N(N−1)) ·
    (Σ s_i²·n_i − (Σ s_i·n_i)²/N). The dose-response member of the
    experimentation suite: ab_test_zscore compares two unordered arms,
    kruskal_wallis ranks values across unordered groups — CA is the
    test for "does the rate RISE with exposure?".

    Exactness: all five sufficient statistics are exact integers
    (cross-multiplied forms keep them integral: the N-scaled numerator
    N·T − K·Σs·n and N-scaled variance pieces ride
    decimal(38,0)/HUGEINT); z is ONE fixed-shape sqrt/divide over
    those exact integers, floored at e6 —
    z = (N·T − K·S1) / sqrt(K(N−K)/(N−1) · (N·S2 − S1²)) where
    S1 = Σs·n, S2 = Σs²·n — algebraically equal to the textbook
    conditional form (T − K·S1/N)/sqrt(K(N−K)/(N(N−1))·(S2 − S1²/N)),
    verified against an independent recomputation to 1e-13 and pinned
    as a unit test; both sides the identical literal shape.
    Degenerate (N < 2, K = 0, K = N, or zero score variance — one
    occupied bin) emits NULL via mirrored CASE.

    Scale shape: one user-keyed aggregate off the scan (the only
    data-sized shuffle) into ≤ ~40 ilog2 bins; the trend math runs on
    the bin frame and one 1-row roll-up."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nev"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull()
                & (F.col("value") > GSQ_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("_y"),
    ).select(
        F.expr("CAST(length(bin(_nev)) - 1 AS BIGINT)").alias("_s"), "_y"
    )
    bins = users.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_k")
    )
    agg = bins.agg(
        F.sum("_n").alias("_nt"),
        F.sum("_k").alias("_kt"),
        F.count(F.lit(1)).alias("_b"),
        F.sum(F.col("_s").cast("decimal(38,0)") * F.col("_n")).alias("_s1"),
        F.sum(
            F.col("_s").cast("decimal(38,0)") * F.col("_s") * F.col("_n")
        ).alias("_s2"),
        F.sum(F.col("_s").cast("decimal(38,0)") * F.col("_k")).alias("_t"),
    )
    ok = (
        "_nt >= 2 AND _kt > 0 AND _kt < _nt"
        " AND (CAST(_nt AS DECIMAL(38,0)) * _s2 - _s1 * _s1) > 0"
    )
    num = "CAST(CAST(_nt AS DECIMAL(38,0)) * _t - _kt * _s1 AS DOUBLE)"
    # cross-multiplied conditional variance: the N-scaled numerator
    # N·T − K·S1 pairs with Var = K(N−K)/(N−1) · (N·S2 − S1²) — NO
    # further /N (a first draft divided by N here, inflating z by √N;
    # caught by the independent hand recomputation, which this form
    # matches to 1e-13 — the kruskal mirrored-algebra lesson again)
    varn = (
        "CAST(_kt AS DOUBLE) * (_nt - _kt) / (_nt - 1)"
        " * CAST(CAST(_nt AS DECIMAL(38,0)) * _s2 - _s1 * _s1 AS DOUBLE)"
    )
    z = f"CASE WHEN {ok} THEN floor(1000000.0 * ({num}) / sqrt({varn})) END"
    staged = agg.select(
        F.col("_nt").cast("long").alias("n_users"),
        F.col("_kt").cast("long").alias("n_converted"),
        F.col("_b").cast("long").alias("n_bins"),
        F.expr(f"CAST({z} AS BIGINT)").alias("z_e6"),
    )
    return staged.select(
        "n_users",
        "n_converted",
        "n_bins",
        "z_e6",
        F.when(
            F.col("z_e6").isNotNull(),
            F.when(F.abs(F.col("z_e6")) >= CA_CRIT_E6, 1).otherwise(0),
        )
        .cast("long")
        .alias("trend_significant"),
    )


COCHRAN_ARMITAGE_SQL = f"""
WITH users AS (
  SELECT CAST(length(bin(count(*))) - 1 AS BIGINT) AS s,
         max(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                       AND value > {GSQ_CONV_MIN} THEN 1 ELSE 0 END) AS y
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
bins AS (SELECT s, count(*) AS n, sum(y) AS k FROM users GROUP BY 1),
agg AS (
  SELECT sum(n) AS nt, sum(k) AS kt, count(*) AS b,
         sum(CAST(s AS HUGEINT) * n) AS s1,
         sum(CAST(s AS HUGEINT) * s * n) AS s2,
         sum(CAST(s AS HUGEINT) * k) AS t
  FROM bins
),
zc AS (
  SELECT nt, kt, b,
         CASE WHEN nt >= 2 AND kt > 0 AND kt < nt
                   AND (CAST(nt AS HUGEINT) * s2 - s1 * s1) > 0 THEN
           floor(1000000.0
                 * CAST(CAST(nt AS HUGEINT) * t - kt * s1 AS DOUBLE)
                 / sqrt(CAST(kt AS DOUBLE) * (nt - kt) / (nt - 1)
                        * CAST(CAST(nt AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)))
         END AS z
  FROM agg
)
SELECT CAST(nt AS BIGINT) AS n_users,
       CAST(kt AS BIGINT) AS n_converted,
       CAST(b AS BIGINT) AS n_bins,
       CAST(z AS BIGINT) AS z_e6,
       CAST(CASE WHEN z IS NOT NULL THEN
              CASE WHEN abs(z) >= {CA_CRIT_E6} THEN 1 ELSE 0 END
            END AS BIGINT) AS trend_significant
FROM zc
"""


# --- Benjamini-Hochberg FDR keep set over a per-nation test family ---------

#: BH target false-discovery rate α = 0.05, e6-scaled plan literal
BH_ALPHA_E6 = 50_000

#: conservative double bound for 1e6*z2 before the floor->BIGINT cast:
#: any double strictly below 9.0e18 floors to a value inside int64 in
#: both engines; past it Spark saturates while DuckDB raises, so both
#: sides emit NULL (the representation-bound pattern of
#: timeseries_queries.theil_sen_trend).
Z2_E6_DOUBLE_BOUND = "9.0e18"


def bh_fdr_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a family of m
    two-sample z-tests — one per nation, mean customer account balance
    (cents) against all OTHER nations (Welch denominator, population
    variances). Per test: z² = (mean_g − mean_rest)² /
    (var_g/n_g + var_rest/n_rest); the p-value is the two-sided
    CHEBYSHEV bound p = min(1, 1/z²) — distribution-free, exact
    algebra, no Φ (the zero-runtime-transcendentals rule; BH on
    super-uniform p-bounds remains valid FDR control, just
    conservative, and the bound is documented in the output contract).
    BH: rank p ascending, k* = max{i : p_(i) ≤ i·α/m}, keep ranks
    ≤ k*; adjusted p_(i) = min(1, min_{j≥i} p_(j)·m/j).

    Exactness: per-nation (n, Σcents, Σcents²) are exact integers
    (squares ride decimal(38,0)/HUGEINT); z² is ONE fixed-shape double
    expression over them; p_e6 = min(1e6, floor(1e6/z²)) — the z² ≤ 1
    branch short-circuits to 1e6 so the floored ratio never exceeds
    BIGINT. Every BH decision is then INTEGER arithmetic: the step-up
    condition is p_e6·m ≤ i·α_e6, and adjusted-p rides
    (p_e6·m) div i (non-negative operands) under a reverse running
    min — a knife-edge double can shift one p_e6 by 1, never corrupt
    the comparison logic. Tests with n_g < 2, n_rest < 2, or a zero
    variance denominator are excluded by mirrored filters (they are
    not part of the family; m counts only testable nations).
    Ties in p_e6 are ranked by nation name — deterministic and
    mirrored; the step-up max-k rule keeps tied members consistently.

    Scale shape: a broadcast nation join riding the customer scan,
    then one nationkey aggregate (the only data-sized shuffle); the
    global roll-up is a 1-row broadcast crossJoin; every window (rank,
    k*, reverse running min) sits on the |nations|-bounded test frame
    (the kendall-tau justification for unpartitioned windows over
    aggregate-reduced frames)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull() & F.col("c_nationkey").isNotNull()
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_nk"), F.col("n_name").alias("nation_name")
    )
    # join BEFORE the aggregate, mirroring the oracle's GROUP BY 1,2
    # shape exactly — agg-then-join diverges when nation keys are
    # duplicated (the --dupes sweep caught it: 2 post-agg rows per
    # nation vs the oracle's 1 doubled-count row). The broadcast hash
    # join rides the customer scan; the groupBy is still the single
    # data-sized shuffle.
    per = (
        cust.join(
            F.broadcast(nat), cust["c_nationkey"] == nat["_nk"]
        )
        .groupBy("_nk", "nation_name")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(cents("c_acctbal")).alias("_s"),
            F.sum(
                cents("c_acctbal").cast("decimal(38,0)") * cents("c_acctbal")
            ).alias("_q"),
        )
    )
    gl = per.agg(
        F.sum("_n").alias("_nt"),
        F.sum("_s").alias("_st"),
        F.sum("_q").alias("_qt"),
    )
    j = per.crossJoin(F.broadcast(gl)).selectExpr(
        "nation_name",
        "_n",
        "_s",
        "_q",
        "CAST(_nt - _n AS BIGINT) AS _nr",
        "CAST(_st - _s AS BIGINT) AS _sr",
        "CAST(_qt - _q AS DECIMAL(38,0)) AS _qr",
    )
    mean_g = "(CAST(_s AS DOUBLE) / _n)"
    mean_r = "(CAST(_sr AS DOUBLE) / _nr)"
    var_g = f"(CAST(_q AS DOUBLE) / _n - {mean_g} * {mean_g})"
    var_r = f"(CAST(_qr AS DOUBLE) / _nr - {mean_r} * {mean_r})"
    den = f"({var_g} / _n + {var_r} / _nr)"
    z2 = f"(({mean_g} - {mean_r}) * ({mean_g} - {mean_r}) / {den})"
    # z2_e6 representation bound (r10, mirrors theil_sen's pattern):
    # with low-variance/large-separation balances 1e6*z2 can exceed
    # int64 (~8.4e18 reproduced in review), where Spark's
    # floor(double)->BIGINT silently saturates but DuckDB's cast
    # errors. Both engines emit NULL past a conservative 9.0e18 double
    # bound instead (the comparison is one IEEE754 double op, bit-
    # identical in both engines); p_e6 is unaffected (z2 huge =>
    # floor(1e6/z2) = 0, always in range).
    tested = j.filter(F.expr(f"_n >= 2 AND _nr >= 2 AND {den} > 0")).selectExpr(
        "nation_name",
        "CAST(_n AS BIGINT) AS n_customers",
        f"CASE WHEN 1000000.0 * {z2} < {Z2_E6_DOUBLE_BOUND}"
        f" THEN CAST(floor(1000000.0 * {z2}) AS BIGINT) END AS z2_e6",
        f"CASE WHEN {z2} <= 1.0 THEN CAST(1000000 AS BIGINT)"
        f" ELSE CAST(floor(1000000.0 / {z2}) AS BIGINT) END AS p_e6",
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tested.withColumn(
        "bh_rank",
        F.row_number().over(Window.orderBy("p_e6", "nation_name")),
    ).withColumn("_m", F.count(F.lit(1)).over(w_all))
    w_rev = Window.orderBy("bh_rank").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    out = (
        ranked.withColumn(
            "_kstar",
            F.max(
                F.expr(
                    f"CASE WHEN p_e6 * _m <= bh_rank * {BH_ALPHA_E6}"
                    " THEN bh_rank ELSE 0 END"
                )
            ).over(w_all),
        )
        .withColumn(
            "padj_e6",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.min(F.expr("(p_e6 * _m) div bh_rank")).over(w_rev),
            ),
        )
        .selectExpr(
            "nation_name",
            "n_customers",
            "z2_e6",
            "p_e6",
            "CAST(bh_rank AS BIGINT) AS bh_rank",
            "CAST(_m AS BIGINT) AS m_tests",
            "padj_e6",
            "CAST(CASE WHEN bh_rank <= _kstar THEN 1 ELSE 0 END AS BIGINT)"
            " AS keep",
        )
    )
    return out


BH_FDR_SQL = f"""
WITH per AS (
  SELECT c.c_nationkey AS nk, n.n_name AS nation_name,
         count(*) AS n,
         sum({CENTS_SQL.format(x="c_acctbal")}) AS s,
         sum(CAST({CENTS_SQL.format(x="c_acctbal")} AS HUGEINT)
             * {CENTS_SQL.format(x="c_acctbal")}) AS q
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_acctbal IS NOT NULL AND c.c_nationkey IS NOT NULL
  GROUP BY 1, 2
),
gl AS (SELECT sum(n) AS nt, sum(s) AS st, sum(q) AS qt FROM per),
j AS (
  SELECT nation_name, n, s, q,
         CAST(nt - n AS BIGINT) AS nr,
         CAST(st - s AS BIGINT) AS sr,
         CAST(qt - q AS HUGEINT) AS qr
  FROM per, gl
),
zc AS (
  -- z2 materialised ONCE as a double (bit-exact: the identical
  -- deterministic expression the Spark side inlines)
  SELECT nation_name, n,
         (((CAST(s AS DOUBLE) / n) - (CAST(sr AS DOUBLE) / nr))
          * ((CAST(s AS DOUBLE) / n) - (CAST(sr AS DOUBLE) / nr))
          / ((CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / n
             + (CAST(qr AS DOUBLE) / nr
                - (CAST(sr AS DOUBLE) / nr) * (CAST(sr AS DOUBLE) / nr))
               / nr)) AS z2
  FROM j
  WHERE n >= 2 AND nr >= 2
        AND ((CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / n
             + (CAST(qr AS DOUBLE) / nr
                - (CAST(sr AS DOUBLE) / nr) * (CAST(sr AS DOUBLE) / nr))
               / nr) > 0
),
tested AS (
  SELECT nation_name,
         CAST(n AS BIGINT) AS n_customers,
         -- representation bound mirrored from the Spark side: NULL
         -- once 1e6*z2 could leave int64 (DuckDB cast would raise,
         -- Spark would saturate)
         CASE WHEN 1000000.0 * z2 < {Z2_E6_DOUBLE_BOUND}
              THEN CAST(floor(1000000.0 * z2) AS BIGINT) END AS z2_e6,
         CASE WHEN z2 <= 1.0
              THEN CAST(1000000 AS BIGINT)
              ELSE CAST(floor(1000000.0 / z2) AS BIGINT) END AS p_e6
  FROM zc
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_e6, nation_name) AS bh_rank,
         count(*) OVER () AS m
  FROM tested
),
marked AS (
  SELECT *,
         max(CASE WHEN p_e6 * m <= bh_rank * {BH_ALPHA_E6}
                  THEN bh_rank ELSE 0 END) OVER () AS kstar,
         least(CAST(1000000 AS BIGINT),
               min((p_e6 * m) // bh_rank) OVER (
                 ORDER BY bh_rank
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               )) AS padj_e6
  FROM ranked
)
SELECT nation_name, n_customers, z2_e6, p_e6,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       CAST(m AS BIGINT) AS m_tests,
       padj_e6,
       CAST(CASE WHEN bh_rank <= kstar THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM marked
"""
