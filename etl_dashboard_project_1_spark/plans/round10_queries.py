"""Round-8 wave-13 additions: the monitoring/pre-flight members the
analysis families still lacked —

* CUSUM drift detection over daily revenue (the sequential
  change-point monitor; rolling_zscore flags points, CUSUM accumulates
  small persistent shifts) — an exact INTEGER fold over the
  calendar-bounded day frame;
* A/B covariate balance (standardized mean difference per pre-period
  covariate) — the experimentation suite's pre-flight check: a
  randomization bug shows up as imbalance BEFORE any outcome is read;
* session transition surprisal — the event-sequence bigram LM in exact
  floor-log2 bits (the logprob precedent applied to behavioral
  sequences: rare transitions are anomaly/bot signals);
* empirical-Bayes shrunken group means — the small-group-correct
  leaderboard statistic (raw per-nation means overfit thin nations;
  shrinkage toward the global mean with prior strength k is the
  standard fix), all-integer rationals.

House rules as in round8/round9_queries: scalar outputs, counts as
long, floor-form integer scalings, non-negative integer division,
no runtime transcendentals (ilog2 via length(bin(x))), shared
constants interpolated from one Python value, NULLs excluded by
mirrored filters, degenerate cells via mirrored CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..session import load_table

# --- CUSUM drift monitor over daily revenue -----------------------------------

#: slack as a fraction of the reference mean: k = mu div CUSUM_SLACK_DIV
CUSUM_SLACK_DIV = 20
#: decision threshold as a multiple of the reference mean: h = mu
CUSUM_H_DIV = 1


def cusum_revenue_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM over daily purchase revenue: S_t =
    max(0, S_{t-1} + x_t − μ − k) with reference μ = the floored global
    mean daily revenue and slack k = μ/20 — the sequential change-point
    monitor that accumulates small persistent upward shifts which
    per-point detectors (rolling_zscore) miss. Reports the maximum
    excursion and the FIRST day the statistic clears h = μ (NULL when
    never).

    Exactness: x_t, μ, k, h and every fold state are exact int64 cents
    (μ and k are FLOORED integer divisions of non-negative sums — the
    floored-reference CUSUM is the documented statistic, engine-exact);
    the fold itself is an integer max/add recurrence, replayed
    identically by Spark's ``F.aggregate`` over the sorted day array
    and DuckDB's recursive CTE over day ranks.

    Scale shape: one (day) aggregate off the scan (the only data-sized
    work); the fold runs over the CALENDAR-BOUNDED day frame inside a
    single JVM-side array fold (≤ |days| elements — the sprt/ols
    calendar class; the array never leaves the executor and never
    reaches the output, which is one scalar row)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("_d"),
        F.sum("_x").alias("_s"),
        F.array_sort(F.collect_list(F.struct("_day", "_x"))).alias("_arr"),
    )
    mu = F.expr("CASE WHEN _d > 0 THEN _s div _d ELSE 0 END")
    folded = tot.select(
        "_d",
        mu.alias("_mu"),
        F.expr(f"CASE WHEN _d > 0 THEN (_s div _d) div {CUSUM_SLACK_DIV} ELSE 0 END").alias(
            "_k"
        ),
        F.expr(f"CASE WHEN _d > 0 THEN (_s div _d) div {CUSUM_H_DIV} ELSE 0 END").alias(
            "_h"
        ),
        "_arr",
    ).select(
        "_d",
        "_mu",
        "_k",
        "_h",
        F.aggregate(
            "_arr",
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(0).cast("long").alias("mx"),
                F.lit(None).cast("date").alias("breach"),
            ),
            lambda acc, e: F.struct(
                F.greatest(
                    F.lit(0).cast("long"),
                    acc.s + e._x - F.col("_mu") - F.col("_k"),
                ).alias("s"),
                F.greatest(
                    acc.mx,
                    F.greatest(
                        F.lit(0).cast("long"),
                        acc.s + e._x - F.col("_mu") - F.col("_k"),
                    ),
                ).alias("mx"),
                F.coalesce(
                    acc.breach,
                    F.when(
                        F.greatest(
                            F.lit(0).cast("long"),
                            acc.s + e._x - F.col("_mu") - F.col("_k"),
                        )
                        > F.col("_h"),
                        e._day,
                    ),
                ).alias("breach"),
            ),
        ).alias("_st"),
    )
    return folded.select(
        F.col("_d").cast("long").alias("n_days"),
        F.col("_mu").cast("long").alias("mu_cents"),
        F.col("_k").cast("long").alias("k_cents"),
        F.col("_st.mx").cast("long").alias("max_cusum_cents"),
        F.col("_st.breach").alias("breach_day"),
    )


CUSUM_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT ts::DATE AS day, sum({CENTS_SQL.format(x="value")}) AS x
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND value >= 0
        AND ts IS NOT NULL
  GROUP BY 1
),
tot AS (
  SELECT count(*) AS d, coalesce(sum(x), 0) AS s FROM daily
),
params AS (
  SELECT d,
         CASE WHEN d > 0 THEN s // d ELSE 0 END AS mu,
         CASE WHEN d > 0 THEN (s // d) // {CUSUM_SLACK_DIV} ELSE 0 END AS k,
         CASE WHEN d > 0 THEN (s // d) // {CUSUM_H_DIV} ELSE 0 END AS h
  FROM tot
),
r AS (
  SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily
),
f(rn, s, mx, breach) AS (
  SELECT 0, 0::BIGINT, 0::BIGINT, NULL::DATE
  UNION ALL
  SELECT r.rn,
         greatest(0, f.s + r.x - p.mu - p.k),
         greatest(f.mx, greatest(0, f.s + r.x - p.mu - p.k)),
         coalesce(f.breach,
                  CASE WHEN greatest(0, f.s + r.x - p.mu - p.k) > p.h
                       THEN r.day END)
  FROM f JOIN r ON r.rn = f.rn + 1 CROSS JOIN params p
),
last AS (
  SELECT * FROM f ORDER BY rn DESC LIMIT 1
)
SELECT CAST(p.d AS BIGINT) AS n_days,
       CAST(p.mu AS BIGINT) AS mu_cents,
       CAST(p.k AS BIGINT) AS k_cents,
       CAST(l.mx AS BIGINT) AS max_cusum_cents,
       l.breach AS breach_day
FROM params p CROSS JOIN last l
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
    from ..operators.sampling import hash_bucket

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


# --- session transition surprisal (event-sequence bigram LM) -------------------


def session_transition_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence bigram LM in exact floor-log₂ bits: per-user event
    streams ordered by (ts, event_id) yield (prev_type → type)
    transitions; each transition's surprisal is ilog2(c1(prev)) −
    ilog2(c2(prev, next)) — rare transitions (signup→error,
    purchase→purchase bursts) are the anomaly/bot signals a sequence
    monitor scores. The behavioral-sequence sibling of
    text_bigram_logprob, same exact-integer ilog2 machinery
    (length(bin(x)) — no runtime transcendental).

    Exactness: counts and bin-length surprisals are exact integers;
    ties on ts are totally ordered by event_id in BOTH lag windows.

    Scale shape: one user-partitioned lag window (the only data-sized
    shuffle), then a ≤|types|²-row aggregate; surprisal math runs on
    that bounded frame."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("_prev"),
            F.col("event_type").alias("_next"),
        )
        .filter(F.col("_prev").isNotNull())
    )
    c2 = trans.groupBy("_prev", "_next").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = c2.groupBy("_prev").agg(F.sum("_c2").alias("_c1"))
    return (
        c2.join(c1, "_prev")
        .select(
            F.col("_prev").alias("prev_type"),
            F.col("_next").alias("next_type"),
            F.col("_c2").cast("long").alias("n_transitions"),
            F.expr("CAST(length(bin(_c1)) - length(bin(_c2)) AS BIGINT)").alias(
                "surprisal_bits"
            ),
        )
    )


TRANSITION_SQL = """
WITH trans AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         event_type AS next
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
),
c2 AS (
  SELECT prev, next, count(*) AS c2 FROM trans WHERE prev IS NOT NULL GROUP BY 1, 2
),
c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY 1)
SELECT prev AS prev_type, next AS next_type,
       CAST(c2 AS BIGINT) AS n_transitions,
       CAST(length(bin(c1)) - length(bin(c2)) AS BIGINT) AS surprisal_bits
FROM c2 JOIN c1 USING (prev)
"""


# --- empirical-Bayes shrunken group means ---------------------------------------

#: prior strength (pseudo-observations pulled toward the global mean)
EB_PRIOR_K = 20


def eb_shrunken_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunken per-nation mean order value: the raw
    per-nation mean overfits thin nations (3 orders can top any
    leaderboard); shrinking toward the global mean with prior strength
    k — shrunk = (S_g + k·m̄)/(n_g + k) — is the standard correction
    (a Beta/Normal-prior posterior mean). Reports raw vs shrunk so the
    shrinkage is visible.

    Exactness: m̄ is the FLOORED global mean (documented: the prior
    mean is the integer-cents global mean), and the shrunk mean is one
    non-negative integer division of exact int64 — no floats anywhere.

    Scale shape: one (nation, ·) revenue aggregate (the only data-sized
    shuffle after the customer broadcast join), a 1-row global frame
    broadcast back over the |nations|-row frame."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") >= 0)
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(cents("o_totalprice")).alias("_s"),
        )
    )
    tot = rev.agg(F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("_tn") > 0)
        .select(
            "c_nationkey",
            F.col("_n").cast("long").alias("n_orders"),
            F.expr("CAST(_s div _n AS BIGINT)").alias("raw_mean_cents"),
            F.expr(
                f"CAST((_s + {EB_PRIOR_K} * (_ts div _tn)) div (_n + {EB_PRIOR_K})"
                " AS BIGINT)"
            ).alias("shrunk_mean_cents"),
        )
    )


EB_SHRINK_SQL = f"""
WITH rev AS (
  SELECT c_nationkey, count(*) AS n, sum({CENTS_SQL.format(x="o_totalprice")}) AS s
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
  GROUP BY 1
),
tot AS (SELECT sum(n) AS tn, sum(s) AS ts FROM rev)
SELECT c_nationkey,
       CAST(n AS BIGINT) AS n_orders,
       CAST(s // n AS BIGINT) AS raw_mean_cents,
       CAST((s + {EB_PRIOR_K} * (ts // tn)) // (n + {EB_PRIOR_K}) AS BIGINT)
         AS shrunk_mean_cents
FROM rev CROSS JOIN tot WHERE tn > 0
"""
