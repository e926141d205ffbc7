"""Round-8 wave-14 additions: completions of existing analysis
families —

* t-closeness audit — the third member of the privacy-release triad
  (k-anonymity bounds re-identification, l-diversity bounds attribute
  disclosure by COUNT; t-closeness bounds it by DISTRIBUTION: a class
  whose sensitive-value distribution sits far from the global one
  leaks even when l-diverse). Distance is total variation — the
  repo's established exact-integer distribution metric
  (value_drift_tv / source_unigram_tv precedent);
* curation fairness audit — per-language keep rate of an exact-integer
  quality filter plus the disparate-impact ratio against the
  best-treated group (the four-fifths rule): the bias pre-flight a
  training-data pipeline runs before shipping a filtered corpus;
* Kendall tau-b between two period leaderboards — the rank-stability
  companion of rbo_leaderboard_drift (RBO is top-weighted and
  set-based; tau-b scores the FULL pairwise order with tie
  correction), exact concordant/discordant/tie counts over the
  bounded nation-pair frame;
* two-cohort log-rank test — the inference companion of
  survival_hazard_daily (Nelson-Aalen estimates ONE curve; log-rank
  tests whether TWO differ): per-event-time hypergeometric O−E and
  variance terms over the standing md5 A/B arms;
* retrospective changepoint location — argmax of the centered prefix
  sum |n·S_t − t·S| over the daily-revenue series (the offline
  location estimator; cusum_revenue_drift is the ONLINE monitor that
  accumulates drift — this one answers "WHERE did the level shift?"
  after the fact), exact integers end to end.

House rules as in round8/round9/round10_queries: scalar outputs,
counts as long, floor-form integer scalings, integer division only on
non-negative operands (abs() before any div), decimal(38,0)/HUGEINT
for wide products, no runtime transcendentals (sqrt of exact
integer-derived doubles allowed — the ab_test_zscore precedent;
fixed-shape floor(1e6·expr) doubles allowed — the did_e6 precedent),
NULLs excluded by mirrored filters, degenerate cells via mirrored
CASE, every ranking totally ordered with a deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..session import load_table

# --- t-closeness audit ---------------------------------------------------------

#: TV distance (basis points) at or below which a class counts as close
T_CLOSENESS_BP = 2000
#: sensitive-attribute coarsening — same bucket as l_diversity_audit
T_CLOSE_BUCKET = 1000


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the customer table: within each
    quasi-identifier equivalence class (market segment × nation — the
    k_anonymity_audit QI set), the total-variation distance between
    the class's sensitive-value distribution (account balance in
    1000-unit buckets — the l_diversity_audit coarsening) and the
    GLOBAL distribution, in basis points; classes farther than
    t = 0.2 fail. Completes the privacy triad: a class can be k-large
    and l-diverse yet still leak (all its members sit in the extreme
    balance buckets) — only a distributional distance catches that.

    Exactness: with class size C, global size G, class bucket count
    c_v and global bucket count g_v, TV = Σ_v |c_v·G − g_v·C| /
    (2·C·G) — every numerator term is an exact integer product in
    decimal(38,0)/HUGEINT, and the absent-bucket tail Σ_{v∉class}
    g_v·C collapses algebraically to C·(G − Σ_{v∈class} g_v) (the
    source_unigram_tv precedent), so no dense bucket×class frame is
    materialized. tv_bp is ONE non-negative integer division.
    NULL balances / segments / nations are excluded by mirrored
    filters (a NULL bucket carries no sensitive value).

    Scale shape: one shuffle to (segment, nation, bucket) cells —
    bounded by |segments|·|nations|·|buckets| regardless of corpus
    size; the three windows (class total, global-bucket total, grand
    total) run on that bounded cell frame, which is the written
    justification for their partitioning."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
        & F.col("c_mktsegment").isNotNull()
        & F.col("c_nationkey").isNotNull()
    )
    cells = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(float(T_CLOSE_BUCKET)))
        .cast("long")
        .alias("_bkt"),
    ).agg(F.count(F.lit(1)).alias("_cv"))
    w_class = Window.partitionBy("c_mktsegment", "c_nationkey")
    w_bucket = Window.partitionBy("_bkt")
    w_all = Window.partitionBy()
    cells2 = cells.select(
        "c_mktsegment",
        "c_nationkey",
        "_cv",
        F.sum("_cv").over(w_class).alias("_C"),
        F.sum("_cv").over(w_bucket).alias("_gv"),
        F.sum("_cv").over(w_all).alias("_G"),
    )
    per_class = cells2.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("_C").alias("_C"),
        F.max("_G").alias("_G"),
        F.sum(
            F.abs(
                F.col("_cv").cast("decimal(38,0)") * F.col("_G")
                - F.col("_gv").cast("decimal(38,0)") * F.col("_C")
            )
        ).alias("_num_present"),
        F.sum("_gv").alias("_gsum"),
    )
    tv_bp = F.expr(
        "CAST((10000 * (_num_present"
        " + CAST(_C AS DECIMAL(38,0)) * (_G - _gsum)))"
        " div (2 * CAST(_C AS DECIMAL(38,0)) * _G) AS BIGINT)"
    )
    return per_class.select(
        "c_mktsegment",
        "c_nationkey",
        F.col("_C").cast("long").alias("class_size"),
        tv_bp.alias("tv_bp"),
        F.when(tv_bp <= T_CLOSENESS_BP, 1).otherwise(0).cast("long").alias("meets_t"),
    )


T_CLOSENESS_SQL = f"""
WITH cells AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / {float(T_CLOSE_BUCKET)}) AS BIGINT) AS bkt,
         count(*) AS cv
  FROM customer
  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
        AND c_nationkey IS NOT NULL
  GROUP BY 1, 2, 3
),
w AS (
  SELECT c_mktsegment, c_nationkey, cv,
         sum(cv) OVER (PARTITION BY c_mktsegment, c_nationkey) AS C,
         sum(cv) OVER (PARTITION BY bkt) AS gv,
         sum(cv) OVER () AS G
  FROM cells
),
per_class AS (
  SELECT c_mktsegment, c_nationkey,
         max(C) AS C, max(G) AS G,
         sum(abs(CAST(cv AS HUGEINT) * G - CAST(gv AS HUGEINT) * C))
           AS num_present,
         sum(gv) AS gsum
  FROM w GROUP BY 1, 2
)
SELECT c_mktsegment, c_nationkey,
       CAST(C AS BIGINT) AS class_size,
       CAST((10000 * (num_present + CAST(C AS HUGEINT) * (G - gsum)))
            // (2 * CAST(C AS HUGEINT) * G) AS BIGINT) AS tv_bp,
       CAST(CASE WHEN (10000 * (num_present + CAST(C AS HUGEINT) * (G - gsum)))
                      // (2 * CAST(C AS HUGEINT) * G) <= {T_CLOSENESS_BP}
                 THEN 1 ELSE 0 END AS BIGINT) AS meets_t
FROM per_class
"""


# --- curation fairness audit (per-language keep rate + disparate impact) -------

#: exact-integer quality filter: keep docs with at least this many tokens…
FAIR_MIN_TOKENS = 30
#: …and punct chars ≤ 1/FAIR_PUNCT_DEN of non-whitespace chars
FAIR_PUNCT_DEN = 5
#: four-fifths rule: keep-rate ratio vs the best-treated group, bp floor
FAIR_DI_MIN_BP = 8000


def fairness_keep_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter fairness audit: per-language keep rate of an
    exact-integer quality rule (≥ 30 whitespace tokens AND punctuation
    ≤ 1/5 of non-whitespace chars — the length/punct core of the
    corpus-quality family in integer cross-multiplied form), plus each
    language's disparate-impact ratio against the BEST-treated
    language and the four-fifths-rule verdict. A quality filter tuned
    on one language silently starves others — this is the bias
    pre-flight a multilingual corpus release runs.

    Exactness: the keep decision is pure integer comparison (the punct
    bound is (n_nonws − n_alnum)·5 ≤ n_nonws — no ratio); rates are
    floor-form basis points; the DI ratio is the exact integer
    rational (10000·k_g·n_ref) div (n_g·k_ref). The reference group is
    the argmax of the FLOORED bp rate with lexicographic language
    tiebreak (documented: ties at bp resolution pick the first
    language), taken by first_value over the bounded per-language
    frame with a fully-specified ROWS frame. k_ref = 0 (no language
    keeps anything) emits NULL di via mirrored CASE.

    Scale shape: one scan computes per-doc integer signals map-side;
    one shuffle to |languages| rows; the reference window and DI math
    run on that bounded frame."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    sig = docs.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_ntok"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("_nonws"),
        F.length(
            F.regexp_replace(
                F.regexp_replace("text", r"\s", ""), "[^a-zA-Z0-9]", ""
            )
        ).alias("_alnum"),
    )
    keep = (F.col("_ntok") >= FAIR_MIN_TOKENS) & (
        (F.col("_nonws") - F.col("_alnum")) * FAIR_PUNCT_DEN <= F.col("_nonws")
    )
    per_lang = sig.groupBy("lang").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("_k"),
    )
    rate_bp = F.expr("(10000 * _k) div _n")
    w_ref = (
        Window.partitionBy()
        .orderBy(F.desc("_rate_bp"), F.asc("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = per_lang.withColumn("_rate_bp", rate_bp).select(
        "lang",
        "_n",
        "_k",
        "_rate_bp",
        F.first("_n").over(w_ref).alias("_n_ref"),
        F.first("_k").over(w_ref).alias("_k_ref"),
    )
    di_bp = F.expr(
        "CASE WHEN _k_ref > 0 THEN"
        " CAST((10000 * CAST(_k AS DECIMAL(38,0)) * _n_ref)"
        " div (CAST(_n AS DECIMAL(38,0)) * _k_ref) AS BIGINT) END"
    )
    return ranked.select(
        "lang",
        F.col("_n").cast("long").alias("n_docs"),
        F.col("_k").cast("long").alias("n_keep"),
        F.col("_rate_bp").cast("long").alias("keep_rate_bp"),
        di_bp.alias("di_bp"),
        F.when(di_bp.isNotNull(), F.when(di_bp >= FAIR_DI_MIN_BP, 1).otherwise(0))
        .cast("long")
        .alias("passes_four_fifths"),
    )


FAIRNESS_SQL = f"""
WITH sig AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         length(regexp_replace(regexp_replace(text, '\\s', '', 'g'),
                               '[^a-zA-Z0-9]', '', 'g')) AS alnum
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
per_lang AS (
  SELECT lang, count(*) AS n,
         sum(CASE WHEN ntok >= {FAIR_MIN_TOKENS}
                   AND (nonws - alnum) * {FAIR_PUNCT_DEN} <= nonws
                  THEN 1 ELSE 0 END) AS k
  FROM sig GROUP BY 1
),
ranked AS (
  SELECT lang, n, k, (10000 * k) // n AS rate_bp,
         first_value(n) OVER w AS n_ref,
         first_value(k) OVER w AS k_ref
  FROM per_lang
  WINDOW w AS (ORDER BY (10000 * k) // n DESC, lang ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST(k AS BIGINT) AS n_keep,
       CAST(rate_bp AS BIGINT) AS keep_rate_bp,
       CASE WHEN k_ref > 0 THEN
         CAST((10000 * CAST(k AS HUGEINT) * n_ref)
              // (CAST(n AS HUGEINT) * k_ref) AS BIGINT) END AS di_bp,
       CAST(CASE WHEN k_ref > 0 THEN
              CASE WHEN (10000 * CAST(k AS HUGEINT) * n_ref)
                        // (CAST(n AS HUGEINT) * k_ref) >= {FAIR_DI_MIN_BP}
                   THEN 1 ELSE 0 END
            END AS BIGINT) AS passes_four_fifths
FROM ranked
"""


# --- Kendall tau-b between two period leaderboards ------------------------------

KT_YEAR_A = 1996
KT_YEAR_B = 1997


def kendall_tau_leaderboards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the per-nation revenue
    leaderboards of two calendar years (1996 vs 1997) — the
    full-order, tie-corrected rank-stability statistic
    (rbo_leaderboard_drift is top-weighted and set-based; tau-b scores
    EVERY pair's relative order): concordant/discordant/tied pair
    counts over the |nations|² pair frame, tau_b = (C − D) /
    sqrt((n0 − T_a)·(n0 − T_b)).

    Exactness: yearly revenues are exact integer cents (conditional
    sums — a nation absent from a year holds revenue 0, a legitimate
    leaderboard value); pair classification is integer comparison;
    tau_b is one fixed-shape sqrt/divide over exact integer counts
    (the ab_covariate_balance precedent), round-half-up at 4 dp.
    Degenerate (all pairs tied in either year, or no pairs) emits NULL
    via mirrored CASE; on an empty pair frame the ungrouped aggregate
    yields one row of NULL sums and count 0 in BOTH engines.

    Scale shape: one keyed join (orders×customer) + one |nations|-row
    aggregate are the only data-sized work; the pair self-join is
    non-equi by construction but bounded at |nations|² ≈ 300 rows —
    broadcast nested-loop by design (whitelisted)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") >= 0)
        & F.year("o_orderdate").isin(KT_YEAR_A, KT_YEAR_B)
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") == KT_YEAR_A, cents("o_totalprice"))
                .otherwise(0)
            ).alias("_a"),
            F.sum(
                F.when(F.year("o_orderdate") == KT_YEAR_B, cents("o_totalprice"))
                .otherwise(0)
            ).alias("_b"),
        )
    )
    x = rev.select(
        F.col("c_nationkey").alias("_nx"), F.col("_a").alias("_ax"), F.col("_b").alias("_bx")
    )
    y = rev.select(
        F.col("c_nationkey").alias("_ny"), F.col("_a").alias("_ay"), F.col("_b").alias("_by")
    )
    pairs = x.join(F.broadcast(y), F.col("_nx") < F.col("_ny"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("_n0"),
        F.sum(
            F.when(
                ((F.col("_ax") < F.col("_ay")) & (F.col("_bx") < F.col("_by")))
                | ((F.col("_ax") > F.col("_ay")) & (F.col("_bx") > F.col("_by"))),
                1,
            ).otherwise(0)
        ).alias("_c"),
        F.sum(
            F.when(
                ((F.col("_ax") < F.col("_ay")) & (F.col("_bx") > F.col("_by")))
                | ((F.col("_ax") > F.col("_ay")) & (F.col("_bx") < F.col("_by"))),
                1,
            ).otherwise(0)
        ).alias("_d"),
        F.sum(F.when(F.col("_ax") == F.col("_ay"), 1).otherwise(0)).alias("_ta"),
        F.sum(F.when(F.col("_bx") == F.col("_by"), 1).otherwise(0)).alias("_tb"),
    )
    tau = F.expr(
        "CASE WHEN _n0 - _ta > 0 AND _n0 - _tb > 0 THEN"
        " floor((_c - _d) / sqrt(CAST(_n0 - _ta AS DOUBLE) * (_n0 - _tb))"
        " * 10000 + 0.5) / 10000 END"
    )
    return agg.select(
        F.col("_n0").cast("long").alias("n_pairs"),
        F.col("_c").cast("long").alias("concordant"),
        F.col("_d").cast("long").alias("discordant"),
        F.col("_ta").cast("long").alias("ties_a"),
        F.col("_tb").cast("long").alias("ties_b"),
        tau.alias("tau_b"),
    )


KENDALL_SQL = f"""
WITH rev AS (
  SELECT c_nationkey,
         sum(CASE WHEN year(o_orderdate) = {KT_YEAR_A}
                  THEN {CENTS_SQL.format(x="o_totalprice")} ELSE 0 END) AS a,
         sum(CASE WHEN year(o_orderdate) = {KT_YEAR_B}
                  THEN {CENTS_SQL.format(x="o_totalprice")} ELSE 0 END) AS b
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
        AND year(o_orderdate) IN ({KT_YEAR_A}, {KT_YEAR_B})
  GROUP BY 1
),
pairs AS (
  SELECT x.a AS ax, x.b AS bx, y.a AS ay, y.b AS by_
  FROM rev x JOIN rev y ON x.c_nationkey < y.c_nationkey
),
agg AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN (ax < ay AND bx < by_) OR (ax > ay AND bx > by_)
                  THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN (ax < ay AND bx > by_) OR (ax > ay AND bx < by_)
                  THEN 1 ELSE 0 END) AS d,
         sum(CASE WHEN ax = ay THEN 1 ELSE 0 END) AS ta,
         sum(CASE WHEN bx = by_ THEN 1 ELSE 0 END) AS tb
  FROM pairs
)
SELECT CAST(n0 AS BIGINT) AS n_pairs,
       CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
       CAST(ta AS BIGINT) AS ties_a,
       CAST(tb AS BIGINT) AS ties_b,
       CASE WHEN n0 - ta > 0 AND n0 - tb > 0 THEN
         floor((c - d) / sqrt(CAST(n0 - ta AS DOUBLE) * (n0 - tb))
               * 10000 + 0.5) / 10000 END AS tau_b
FROM agg
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
    from ..operators.sampling import hash_bucket

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


# --- retrospective changepoint location (centered prefix sum) --------------------


def changepoint_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrospective single-changepoint location over daily purchase
    revenue: the split day t* = argmax_t |n·S_t − t·S| (the centered
    prefix sum, scaled by n to stay integral — the classical offline
    mean-shift location estimator; for constant variance it picks the
    same split as one binary-segmentation step). cusum_revenue_drift
    is the ONLINE monitor (did a drift happen, and when did it first
    clear a threshold?); this answers "where is the level shift?"
    retrospectively. Reports the split, the maximum deviation, and the
    left/right segment means so the shift is visible.

    Exactness: daily revenues are exact int64 cents; the deviation
    |n·S_t − t·S| rides decimal(38,0)/HUGEINT (abs before division —
    the non-negative-operand rule); segment means are non-negative
    integer divisions. The argmax is totally ordered by (deviation
    DESC, day ASC) — deterministic under ties. Splits leave both
    segments non-empty (t < n); n < 2 days yields an EMPTY result in
    both engines (no valid split), the documented degenerate.

    Scale shape: one (day) aggregate off the scan is the only
    data-sized work; prefix sums, argmax and the final row ride the
    calendar-bounded day frame (the cusum/sprt justification)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_x")
    )
    w_ord = Window.orderBy("_day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    pre = daily.select(
        "_day",
        F.row_number().over(Window.orderBy("_day")).alias("_t"),
        F.sum("_x").over(w_ord).alias("_st"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.sum("_x").over(w_all).alias("_s"),
    ).filter(F.col("_t") < F.col("_n"))
    dev = F.abs(
        F.col("_n").cast("decimal(38,0)") * F.col("_st")
        - F.col("_t").cast("decimal(38,0)") * F.col("_s")
    )
    ranked = pre.withColumn("_dev", dev).withColumn(
        "_rk", F.row_number().over(Window.orderBy(F.desc("_dev"), F.asc("_day")))
    )
    return ranked.filter(F.col("_rk") == 1).select(
        F.col("_n").cast("long").alias("n_days"),
        F.col("_day").alias("split_day"),
        F.expr("CAST(_dev div _n AS BIGINT)").alias("max_dev_cents"),
        F.expr("CAST(_st div _t AS BIGINT)").alias("mean_left_cents"),
        F.expr("CAST((_s - _st) div (_n - _t) AS BIGINT)").alias("mean_right_cents"),
        F.expr(
            "CAST((_s - _st) div (_n - _t) - _st div _t AS BIGINT)"
        ).alias("shift_cents"),
    )


CHANGEPOINT_SQL = f"""
WITH daily AS (
  SELECT ts::DATE AS day, sum({CENTS_SQL.format(x="value")}) AS x
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND value >= 0
        AND ts IS NOT NULL
  GROUP BY 1
),
pre AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS t,
         sum(x) OVER (ORDER BY day) AS st,
         count(*) OVER () AS n,
         sum(x) OVER () AS s
  FROM daily
),
cand AS (
  SELECT day, t, st, n, s,
         abs(CAST(n AS HUGEINT) * st - CAST(t AS HUGEINT) * s) AS dev
  FROM pre WHERE t < n
),
best AS (
  SELECT *, row_number() OVER (ORDER BY dev DESC, day ASC) AS rk FROM cand
)
SELECT CAST(n AS BIGINT) AS n_days,
       day AS split_day,
       CAST(dev // n AS BIGINT) AS max_dev_cents,
       CAST(st // t AS BIGINT) AS mean_left_cents,
       CAST((s - st) // (n - t) AS BIGINT) AS mean_right_cents,
       CAST((s - st) // (n - t) - st // t AS BIGINT) AS shift_cents
FROM best WHERE rk = 1
"""
