"""Round-8 wave-17 additions: the two remaining inference
diagnostics —

* Cochran-Armitage trend test — the ORDERED-groups proportion test the
  experimentation suite lacked (ab_test_zscore compares two arms;
  kruskal_wallis ranks values across unordered groups; CA tests
  whether a RATE rises monotonically with an ordered exposure — here
  conversion rate across ilog2 activity bins, the dose-response
  pre-read for "does engagement drive purchase?");
* Durbin-Watson on the seasonal-naive forecast errors — the
  serial-correlation diagnostic of the repo's standing baseline
  forecaster (seasonal_naive_backtest reports MAE/bias; DW answers
  "are its errors white?" — autocorrelated errors mean the model
  leaves structure on the table, the classic regression-diagnostic
  reading of the same statistic).

House rules as in round8..round13_queries: scalar outputs, counts as
long, floor-form integer scalings, integer division only on
non-negative operands, decimal(38,0)/HUGEINT for wide products, no
runtime transcendentals, fixed-shape floor(1e6·expr) doubles for
irreducibly real-valued statistics, NULLs excluded by mirrored
filters, degenerate cells via mirrored CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..session import load_table
from .round9_queries import GSQ_CONV_MIN

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


# --- Durbin-Watson on the seasonal-naive forecast errors -------------------------

#: forecast lag shared with seasonal_naive_backtest (weekly seasonality)
DW_SEASON_LAG = 7


def durbin_watson_forecast_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the seasonal-naive forecast errors
    over daily purchase revenue: e_t = y_t − y_{t−7} (the
    seasonal_naive_backtest error series), DW = Σ(e_t − e_{t−1})² /
    Σe_t² ∈ [0, 4]. The whiteness diagnostic of the standing baseline
    forecaster: DW ≈ 2 means the errors are serially uncorrelated (the
    naive model extracts all weekly structure); DW → 0 means strongly
    positively autocorrelated errors — the model leaves predictable
    structure on the table. Complements acf_daily_revenue (which
    diagnoses the SERIES; this diagnoses the MODEL's residuals).

    Exactness: errors are exact int64 cent differences; both quadratic
    sums ride decimal(38,0)/HUGEINT; DW is ONE non-negative integer
    division to e6 (the quotient is ≤ 4e6 by the statistic's range).
    Degenerate (zero error variance — the all-ties mirror — or fewer
    than 2 consecutive error pairs) emits NULL via mirrored CASE.
    Consecutiveness is by ROW adjacency in day order over the observed
    day frame (the lag-window convention of seasonal_naive_backtest),
    documented rather than calendar-gap-aware.

    Scale shape: one (day) aggregate off the scan; both lag windows
    and the quadratic roll-up ride the calendar-bounded day frame (the
    cusum/sprt justification)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_y")
    )
    w = Window.orderBy("_day")
    errs = daily.select(
        "_day", (F.col("_y") - F.lag("_y", DW_SEASON_LAG).over(w)).alias("_e")
    ).filter(F.col("_e").isNotNull())
    pairs = errs.select(
        "_e", F.lag("_e").over(Window.orderBy("_day")).alias("_ep")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_e").cast("decimal(38,0)") * F.col("_e")).alias("_se2"),
        F.sum(
            F.when(
                F.col("_ep").isNotNull(),
                (F.col("_e") - F.col("_ep")).cast("decimal(38,0)")
                * (F.col("_e") - F.col("_ep")),
            )
        ).alias("_sd2"),
        F.sum(F.when(F.col("_ep").isNotNull(), 1).otherwise(0)).alias("_np"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_errors"),
        F.col("_np").cast("long").alias("n_pairs"),
        F.expr(
            "CASE WHEN _np >= 1 AND _se2 > 0 THEN"
            " CAST((1000000 * _sd2) div _se2 AS BIGINT) END"
        ).alias("dw_e6"),
    )


DURBIN_WATSON_SQL = f"""
WITH daily AS (
  SELECT ts::DATE AS day, sum({CENTS_SQL.format(x="value")}) AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND value >= 0
        AND ts IS NOT NULL
  GROUP BY 1
),
errs AS (
  SELECT day, e FROM (
    SELECT day, y - lag(y, {DW_SEASON_LAG}) OVER (ORDER BY day) AS e
    FROM daily
  ) WHERE e IS NOT NULL
),
pairs AS (
  SELECT e, lag(e) OVER (ORDER BY day) AS ep FROM errs
),
agg AS (
  SELECT count(*) AS n,
         sum(CAST(e AS HUGEINT) * e) AS se2,
         sum(CASE WHEN ep IS NOT NULL
                  THEN CAST(e - ep AS HUGEINT) * (e - ep) END) AS sd2,
         sum(CASE WHEN ep IS NOT NULL THEN 1 ELSE 0 END) AS np
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_errors,
       CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN np >= 1 AND se2 > 0 THEN
         CAST((1000000 * sd2) // se2 AS BIGINT) END AS dw_e6
FROM agg
"""
