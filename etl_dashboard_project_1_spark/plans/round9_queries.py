"""Round-8 wave-11 additions: the three gaps the r7 verdict named —

* group-sequential monitoring: an O'Brien-Fleming boundary monitor over
  cumulative looks — the fixed-horizon sibling of the SPRT (the SPRT
  tests after EVERY user; a group-sequential design tests at K planned
  interim looks against inflation-controlled boundaries);
* weighted/stratified sampling: proportional allocation with
  largest-remainder rounding (the classical survey-sampling member the
  sampling module lacked — stratified_topn is equal-n, sqrt_mixture is
  rate-based; this one allocates a fixed BUDGET across strata exactly
  proportional to stratum weight);
* a KLL-style quantile sketch with an exact-rank gate (the CMS
  heavy-hitters precedent): one-shot level sampling with power-of-two
  weights — the standard distributed simplification of KLL's compactor
  hierarchy — gated against exactly-computed rank bounds.

House rules (see round8_queries): scalar outputs only, counts cast to
long, ratios as floor-form integer scalings, integer division only on
non-negative operands, no runtime transcendentals (sqrt of exact
integer-derived doubles is allowed — correctly-rounded IEEE, the
ab_test_zscore precedent), boundary/look constants computed ONCE in
Python and interpolated into BOTH engines, NULL inputs excluded by
mirrored filters, degenerate cells emit NULL via mirrored CASE.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import md5_int
from ..operators.derive import CENTS_SQL, cents
from ..session import fan_out, load_table

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
    round(GSQ_OBF_C * _math.sqrt(GSQ_LOOKS / k), 4) for k in range(1, GSQ_LOOKS + 1)
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


# --- weighted stratified sample: largest-remainder proportional allocation ----

#: total sample budget allocated across strata
WALLOC_BUDGET = 100
WALLOC_SALT = "walloc"


def sample_weighted_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sample by PROPORTIONAL ALLOCATION with
    largest-remainder rounding (Hamilton's method): a fixed budget of
    WALLOC_BUDGET documents is split across language strata exactly
    proportional to each stratum's total character mass, fractional
    seats resolved by largest remainder (ties by lang); within each
    stratum the allocated rows are picked in deterministic md5-wheel
    order. The sampling module's missing member: stratified_topn is
    equal-n per stratum, sample_sqrt_mixture is per-row rate-based —
    neither hits an exact global budget ∝ weight. Budget contract: when
    a stratum's seat count exceeds its ROW count (one huge document),
    the whole stratum is taken and the global sample under-delivers —
    reported, not silent: the output carries stratum_size next to
    stratum_alloc, so alloc > size IS the shortfall signal (Hamilton's
    method is single-pass proportional; redistributing shortfalls would
    be a different estimator).

    Exactness: seats and remainders are exact integers — base_s =
    (B·w_s) div W and rem_s = (B·w_s) mod W on non-negative int64
    (headroom: B·w_s ≤ 100·total_chars, safe below ~9.2×10¹⁶ corpus
    chars; at larger corpora lift to decimal(38,0)); the remainder rank
    and the within-stratum pick rank are integer row_numbers with full
    tiebreaks. No floats anywhere.

    Scale shape: one |strata|-row weight aggregate; allocation math
    lives entirely on that bounded frame (its unpartitioned windows are
    |strata|-sized by construction); the pick is one PARTITIONED
    row_number per stratum joined to the broadcast allocation — a
    single data-sized shuffle on the stratum key."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
        & (F.col("n_chars") >= 0)
    )
    w_s = docs.groupBy("lang").agg(F.sum("n_chars").alias("_w"))
    tot = w_s.agg(F.sum("_w").alias("_tot"))
    seats = (
        w_s.crossJoin(F.broadcast(tot))
        .filter(F.col("_tot") > 0)
        .select(
            "lang",
            "_w",
            F.expr(f"(_w * {WALLOC_BUDGET}) div _tot").alias("_base"),
            F.expr(f"(_w * {WALLOC_BUDGET}) % _tot").alias("_rem"),
        )
    )
    # bounded |strata|-row frame: deficit + largest-remainder top-up
    w_all = Window.partitionBy()  # whole-frame total over the |strata| rows
    w_rem = Window.orderBy(F.desc("_rem"), F.asc("lang"))
    alloc = seats.select(
        "lang",
        "_w",
        "_base",
        (F.lit(WALLOC_BUDGET) - F.sum("_base").over(w_all)).alias("_deficit"),
        F.row_number().over(w_rem).alias("_rk"),
    ).select(
        "lang",
        "_w",
        (F.col("_base") + F.when(F.col("_rk") <= F.col("_deficit"), 1).otherwise(0)).alias(
            "_alloc"
        ),
    )
    w_lang = Window.partitionBy("lang")
    picked = (
        docs.select(
            "lang",
            "doc_id",
            md5_int(
                F.concat(F.col("doc_id").cast("string"), F.lit(WALLOC_SALT))
            ).alias("_h"),
        )
        .withColumn(
            "_pick",
            F.row_number().over(w_lang.orderBy("_h", "doc_id")),
        )
        .withColumn("_sz", F.count(F.lit(1)).over(w_lang))
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("_pick") <= F.col("_alloc"))
    )
    return picked.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("_alloc").cast("long").alias("stratum_alloc"),
        F.col("_sz").cast("long").alias("stratum_size"),
        F.col("_pick").cast("long").alias("pick_rank"),
    )


WALLOC_SQL = f"""
WITH docs AS (
  SELECT lang, doc_id, n_chars,
         ('0x' || substr(md5(doc_id::VARCHAR || '{WALLOC_SALT}'), 1, 8))::BIGINT AS h
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
),
w AS (SELECT lang, sum(n_chars) AS ws FROM docs GROUP BY lang),
tot AS (SELECT sum(ws) AS wt FROM w),
seats AS (
  SELECT lang, ws,
         (ws * {WALLOC_BUDGET}) // wt AS base,
         (ws * {WALLOC_BUDGET}) % wt AS rem
  FROM w, tot WHERE wt > 0
),
ranked AS (
  SELECT lang, base,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk,
         {WALLOC_BUDGET} - sum(base) OVER () AS deficit
  FROM seats
),
alloc AS (
  SELECT lang, base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS alloc
  FROM ranked
),
picked AS (
  SELECT d.lang, d.doc_id, a.alloc,
         row_number() OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id) AS pick,
         count(*) OVER (PARTITION BY d.lang) AS sz
  FROM docs d JOIN alloc a ON d.lang = a.lang
)
SELECT lang,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(alloc AS BIGINT) AS stratum_alloc,
       CAST(sz AS BIGINT) AS stratum_size,
       CAST(pick AS BIGINT) AS pick_rank
FROM picked WHERE pick <= alloc
"""


# --- KLL-style level-sampling quantile sketch with exact-rank gate ------------

#: sketch capacity: the kept sample is at most ~2·KLL_CAPACITY rows
KLL_CAPACITY = 1024
KLL_SALT = "kll"
#: probed quantiles in basis points
KLL_PROBES_BP = [2500, 5000, 7500, 9000]
#: rank tolerance: |achieved − target| ≤ n·KLL_TOL_BP/10⁴ (plus tie slack)
KLL_TOL_BP = 1000


def kll_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style quantile sketch with an exact-rank gate (the
    cms_heavy_hitters precedent — estimate with a sketch, then verify
    the sketch's guarantee against exactly-computed truth): rows are
    subsampled at level L = max(0, ilog2(n) − ilog2(capacity)) by the
    md5 wheel (keep ⇔ hash ≡ 0 mod 2^L), each survivor carrying weight
    2^L — the one-shot level-sampling simplification of KLL's compactor
    hierarchy (Karnin-Lang-Liberty 2016): a uniform 2^-L coin realized
    deterministically, so BOTH engines build the identical sketch. The
    quantile estimate for probe q is the smallest kept value whose
    weighted rank reaches target = (q·n) div 10⁴; the gate then
    computes the TRUE rank interval of that estimate over the full data
    ([#rows < v, #rows ≤ v] — exact integers) and asserts the target
    falls within KLL_TOL_BP of it. Tie-robust by construction: under
    total ties the interval is [0, n] and every probe passes vacuously;
    at L = 0 the sketch IS the data and the gate is exact. Every probe
    ALWAYS emits a row (probes left-join the estimates): an
    under-sampled sketch that reaches no estimate for a probe reports
    gate_ok = 0 with NULL estimate — the failure the gate exists to
    detect is never silently dropped — and n = 0 passes vacuously.

    Exactness: ilog2 via length(bin(x)) (the logprob precedent), the
    level modulus 2^L via shiftleft, weighted ranks and rank intervals
    all exact int64; no floats at any point.

    Scale shape: one ungrouped count (map-side), one map-only filter to
    the ≤2·capacity kept frame (its unpartitioned rank window is
    capacity-bounded by construction), a broadcast of the |probes|-row
    estimate table back over ONE full scan for the exact-rank
    aggregate. Nothing data-sized shuffles; the sketch never exceeds
    2^(ilog2(capacity)+1) rows in expectation and concentrates sharply
    (Chernoff) — the gate itself is the evidence."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") >= 0)
    )
    vals = orders.select(
        F.col("o_orderkey").alias("_k"), cents("o_totalprice").alias("_v")
    )
    meta = vals.agg(F.count(F.lit(1)).alias("_n")).select(
        "_n",
        F.expr(
            f"CAST(greatest(0, length(bin(_n)) - length(bin({KLL_CAPACITY})))"
            " AS INT)"
        ).alias("_lvl"),
    ).select("_n", "_lvl", F.expr("shiftleft(CAST(1 AS BIGINT), _lvl)").alias("_mod"))
    kept = (
        vals.crossJoin(F.broadcast(meta))
        .filter(
            md5_int(F.concat(F.col("_k").cast("string"), F.lit(KLL_SALT)))
            % F.col("_mod")
            == 0
        )
        .select(
            "_v",
            "_k",
            "_n",
            "_lvl",
            "_mod",
            F.row_number().over(Window.orderBy("_v", "_k")).alias("_rn"),
        )
    )
    probes = spark.createDataFrame(
        [(q,) for q in KLL_PROBES_BP], ["q_bp"]
    ).select(F.col("q_bp").cast("long").alias("q_bp"))
    est = (
        kept.join(F.broadcast(probes))
        .filter(
            F.col("_rn") * F.col("_mod") >= F.expr("(q_bp * _n) div 10000")
        )
        .groupBy("q_bp")
        .agg(F.min("_v").alias("est_cents"))
    )
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q_bp", "est_cents")
        .agg(
            F.sum(F.when(F.col("_v") < F.col("est_cents"), 1).otherwise(0)).alias(
                "_lo"
            ),
            F.sum(F.when(F.col("_v") <= F.col("est_cents"), 1).otherwise(0)).alias(
                "_hi"
            ),
        )
    )
    # probes LEFT-join the estimates so a probe NEVER silently vanishes
    # (review catch): if the sketch under-samples and no kept row's
    # weighted rank reaches the target, the probe row survives with
    # gate_ok = 0 — the sketch failure is REPORTED, not dropped. n = 0 is
    # the vacuous-pass case (the sketch of nothing is exact).
    base = probes.crossJoin(F.broadcast(meta)).join(ranks, "q_bp", "left")
    tol = F.expr(f"({KLL_TOL_BP} * _n) div 10000")
    target = F.expr("(q_bp * _n) div 10000")
    return base.select(
        "q_bp",
        F.col("_n").cast("long").alias("n_rows"),
        F.col("_lvl").cast("long").alias("level"),
        F.col("est_cents").cast("long").alias("est_cents"),
        F.col("_lo").cast("long").alias("rank_lo"),
        F.col("_hi").cast("long").alias("rank_hi"),
        target.cast("long").alias("target_rank"),
        F.when(F.col("_n") == 0, 1)
        .when(F.col("est_cents").isNull(), 0)
        .when(
            (target >= F.col("_lo") + 1 - tol) & (target <= F.col("_hi") + tol),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("gate_ok"),
    )


_KLL_PROBES_SQL = ", ".join(str(q) for q in KLL_PROBES_BP)

KLL_SQL = f"""
WITH vals AS (
  SELECT o_orderkey AS k, {CENTS_SQL.format(x="o_totalprice")} AS v
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
),
meta AS (
  SELECT n, lvl, (1::BIGINT << lvl) AS md FROM (
    SELECT count(*) AS n,
           greatest(0, length(bin(count(*))) - length(bin({KLL_CAPACITY}))) AS lvl
    FROM vals)
),
kept AS (
  SELECT v, k, n, lvl, md,
         row_number() OVER (ORDER BY v, k) AS rn
  FROM vals, meta
  WHERE ('0x' || substr(md5(k::VARCHAR || '{KLL_SALT}'), 1, 8))::BIGINT % md = 0
),
probes AS (SELECT unnest([{_KLL_PROBES_SQL}])::BIGINT AS q_bp),
est AS (
  SELECT q_bp, min(v) AS est_cents
  FROM kept JOIN probes ON rn * md >= (q_bp * n) // 10000
  GROUP BY q_bp
),
ranks AS (
  SELECT q_bp, est_cents,
         sum(CASE WHEN v < est_cents THEN 1 ELSE 0 END) AS lo,
         sum(CASE WHEN v <= est_cents THEN 1 ELSE 0 END) AS hi
  FROM vals, est
  GROUP BY q_bp, est_cents
)
SELECT q_bp,
       CAST(n AS BIGINT) AS n_rows,
       CAST(lvl AS BIGINT) AS level,
       CAST(est_cents AS BIGINT) AS est_cents,
       CAST(lo AS BIGINT) AS rank_lo,
       CAST(hi AS BIGINT) AS rank_hi,
       CAST((q_bp * n) // 10000 AS BIGINT) AS target_rank,
       CAST(CASE WHEN n = 0 THEN 1
                 WHEN est_cents IS NULL THEN 0
                 WHEN (q_bp * n) // 10000 >= lo + 1 - ({KLL_TOL_BP} * n) // 10000
                  AND (q_bp * n) // 10000 <= hi + ({KLL_TOL_BP} * n) // 10000
                 THEN 1 ELSE 0 END AS BIGINT) AS gate_ok
FROM probes CROSS JOIN meta LEFT JOIN ranks USING (q_bp)
"""


# === wave 12 (also registered during round 8 post-seal — r9/r10 queue) =======
#
# The remaining analysis-family gaps after wave-11: the causal suite's
# observational member (IPW), the robust-stats trimmed mean, the
# chance-corrected agreement scalar (Cohen's kappa) over the langid
# eval, and the experimentation suite's design-side power/MDE readout.

# --- IPW average-treatment-effect estimate ------------------------------------

IPW_SALT = "ipw"


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


# --- exact trimmed mean (robust-stats member) ----------------------------------

TRIM_LO_PCT = 5
TRIM_HI_PCT = 95


def trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5–95% trimmed mean of purchase cents per event type — the
    robust-location member winsorize_event_values (which CLIPS) and
    rolling_median (which windows) don't provide: drop the tail ranks
    entirely, average the middle 90%.

    Exactness: cut ranks are integer ``(pct·n) div 100``; each distinct
    value's kept multiplicity is the exact integer overlap of its
    cumulative-rank span [cum − c, cum) with (klo, khi]; the trimmed
    mean is a non-negative integer division. No per-row ranks anywhere.

    Scale shape: one (type, value) groupBy off the scan, then windows
    over the DISTINCT-CENTS domain per type (the ks/quantile_loss
    justification: bounded by the value domain, not the row count)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type").isNotNull())
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
    )
    per_v = (
        ev.select("event_type", cents("value").alias("_v"))
        .groupBy("event_type", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_dom = (
        Window.partitionBy("event_type")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = per_v.select(
        "event_type",
        "_v",
        "_c",
        F.sum("_c").over(w_dom).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_c")).over(w_all).alias("_s"),
    )
    klo = F.expr(f"({TRIM_LO_PCT} * _n) div 100")
    khi = F.expr(f"({TRIM_HI_PCT} * _n) div 100")
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("_cum"), khi) - F.greatest(F.col("_cum") - F.col("_c"), klo),
    )
    g = cum.groupBy("event_type").agg(
        F.max("_n").cast("long").alias("n_events"),
        F.max(khi - klo).cast("long").alias("n_kept"),
        F.sum(F.col("_v").cast("decimal(38,0)") * kept).alias("_ts"),
        F.max("_s").alias("_sall"),
    )
    return g.select(
        "event_type",
        "n_events",
        "n_kept",
        F.expr("CASE WHEN n_kept > 0 THEN CAST(_ts div n_kept AS BIGINT) END").alias(
            "trimmed_mean_cents"
        ),
        F.expr("CASE WHEN n_events > 0 THEN CAST(_sall div n_events AS BIGINT) END").alias(
            "mean_cents"
        ),
    )


TRIMMED_MEAN_SQL = f"""
WITH per_v AS (
  SELECT event_type, {CENTS_SQL.format(x="value")} AS v, count(*) AS c
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND value >= 0
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n,
         sum(CAST(v AS HUGEINT) * c) OVER (PARTITION BY event_type) AS s
  FROM per_v
),
k AS (
  SELECT *, ({TRIM_LO_PCT} * n) // 100 AS klo, ({TRIM_HI_PCT} * n) // 100 AS khi
  FROM cum
),
g AS (
  SELECT event_type,
         max(n) AS n, max(khi - klo) AS kept,
         sum(CAST(v AS HUGEINT)
             * greatest(0, least(cum, khi) - greatest(cum - c, klo))) AS ts,
         max(s) AS sall
  FROM k GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(kept AS BIGINT) AS n_kept,
       CASE WHEN kept > 0 THEN CAST(ts // kept AS BIGINT) END AS trimmed_mean_cents,
       CASE WHEN n > 0 THEN CAST(sall // n AS BIGINT) END AS mean_cents
FROM g
"""


# --- Cohen's kappa over the langid eval ----------------------------------------


def langid_kappa_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the n-gram language detector and the
    corpus's labeled `lang` column — the chance-corrected agreement
    SCALAR on top of langid_eval_confusion's per-cell matrix (a
    detector can score 80% raw accuracy on a skewed corpus while doing
    no better than chance; kappa is the number that catches it).

    Exactness: kappa = (N·Σdiag − Σ row_t·col_t) / (N² − Σ row_t·col_t)
    over exact integer confusion counts; the products ride
    decimal(38,0)/HUGEINT (N² needs ~26 digits at 10¹³ docs), and kappa
    is ONE division of exact-integer-valued doubles (numerator may be
    negative — worse-than-chance — so no integer floor division; the
    DiD fixed-shape-double precedent), floor-rounded to 6 dp. The
    single-class degenerate case (N² = Σrc) emits NULL via mirrored
    CASE.

    Scale shape: one corpus scan into the ≤|langs|²-row confusion
    frame; every window/aggregate after that is confusion-frame-sized."""
    from ..operators import textops

    # NULL text cannot be scored: Spark detect_language maps it to
    # 'und' while the SQL mirror's CASE would fall through NULL ratios
    # to its ELSE branch — excluded in BOTH engines (review catch; the
    # mcnemar_langid_test filter)
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    conf = docs.groupBy(
        F.col("lang").alias("_t"),
        textops.detect_language("text").alias("_d"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    g = conf.agg(
        F.sum("_c").cast("long").alias("_n"),
        F.sum(F.when(F.col("_t") == F.col("_d"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_diag"),
    )
    # marginal-product term: Σ_k row_k · col_k pairs the SAME label k on
    # both sides (the equi-join below) — computed from the marginals on
    # the ≤|langs|-row frames
    rows = conf.groupBy("_t").agg(F.sum("_c").alias("_r"))
    cols = conf.groupBy("_d").agg(F.sum("_c").alias("_k"))
    rc = (
        rows.join(cols, rows._t == cols._d)
        .agg(
            F.sum(
                F.col("_r").cast("decimal(38,0)") * F.col("_k")
            ).alias("_src")
        )
    )
    out = g.crossJoin(F.broadcast(rc)).select(
        F.col("_n").alias("n_docs"),
        F.col("_diag").alias("n_agree"),
        F.col("_src").cast("decimal(38,0)").alias("_src2"),
        F.expr(
            "CASE WHEN _n > 0 AND CAST(_n AS DECIMAL(38,0)) * _n <> _src THEN"
            " floor((CAST(CAST(_n AS DECIMAL(38,0)) * _diag - _src AS DOUBLE))"
            " / (CAST(CAST(_n AS DECIMAL(38,0)) * _n - _src AS DOUBLE))"
            " * 1000000 + 0.5) / 1000000 END"
        ).alias("kappa"),
    )
    return out.select(
        "n_docs",
        "n_agree",
        F.expr("CAST(_src2 AS DOUBLE)").alias("sum_marginal_products"),
        "kappa",
    )


def _langid_kappa_sql() -> str:
    from ..operators import textops
    from .extension_queries import _LANGID_CASE, _ratio_sql

    return rf"""
WITH r AS (
  SELECT lang,
         {_ratio_sql(textops.LANG_PROFILES['en'])} AS r_en,
         {_ratio_sql(textops.LANG_PROFILES['es'])} AS r_es,
         {_ratio_sql(textops.LANG_PROFILES['de'])} AS r_de,
         {_ratio_sql(textops.LANG_PROFILES['fr'])} AS r_fr
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
p AS (SELECT lang AS t, {_LANGID_CASE} AS d FROM r),
conf AS (SELECT t, d, count(*) AS c FROM p GROUP BY 1, 2),
g AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN t = d THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM conf
),
rows_ AS (SELECT t, sum(c) AS r FROM conf GROUP BY 1),
cols_ AS (SELECT d, sum(c) AS k FROM conf GROUP BY 1),
rc AS (
  SELECT sum(CAST(r AS HUGEINT) * k) AS src
  FROM rows_ JOIN cols_ ON rows_.t = cols_.d
)
SELECT n AS n_docs, diag AS n_agree,
       CAST(src AS DOUBLE) AS sum_marginal_products,
       CASE WHEN n > 0 AND CAST(n AS HUGEINT) * n <> src THEN
         floor(CAST(CAST(n AS HUGEINT) * diag - src AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n - src AS DOUBLE)
               * 1000000 + 0.5) / 1000000 END AS kappa
FROM g CROSS JOIN rc
"""


LANGID_KAPPA_SQL = _langid_kappa_sql()


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
    from ..operators.sampling import hash_bucket

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
