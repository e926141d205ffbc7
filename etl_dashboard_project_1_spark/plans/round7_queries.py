"""Round-7 additions: the model-development loop around the corpus —
isotonic score calibration (exact integer PAV), a curriculum
interleave schedule audit, adjacent-day active-user churn Jaccard,
differentially-private-style deterministic noisy counts (discrete
Laplace via the md5 wheel and an exact rational inverse CDF), and
per-fold cross-validation scores for the shared quality-logit model.

House rules (see oracle_harness / driver canon): scalar outputs only,
counts cast to long, ratios as floor-form integer scalings, integer
division only on non-negative operands (measured r9: both Spark
``div`` and DuckDB ``//`` truncate toward zero — an earlier floors
claim was wrong; the rule stays as the portability contract), no runtime
transcendentals (every probability threshold is an exact Python
rational interpolated into BOTH engines), and shared constants come
from one Python value.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import layout
from ..operators.sampling import hash_bucket
from ..session import fan_out, load_table
from .round6_queries import _logit_col, _logit_ctes
from .training_queries import _MD5_BIGINT, KFOLDS


# --- isotonic calibration (pool-adjacent-violators) ---------------------------

#: score grid clamp in e2 logit units — bounds the PAV problem size to
#: at most 601 bins regardless of data volume (the logit is a bounded
#: feature combination; the clamp only bites on pathological text).
PAV_CLAMP_E2 = 300


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration curve for the shared quality-logit model:
    per observed e2 score bin, the raw empirical P(lang='en') and the
    PAV (pool-adjacent-violators) isotonic fit — the standard
    post-training score→probability calibrator (Platt's monotone-free
    cousin). decile lift answers "which band to ship"; this answers
    "what probability does a score MEAN".

    Exactness: PAV is computed from the closed max-min form
    fit_i = max_{j<=i} min_{k>=i... j<=k} mean(y over bins j..k) —
    evaluated entirely in integer arithmetic. Each interval mean is
    floored to ppm via non-negative integer division; floor is monotone
    non-decreasing, so it COMMUTES with min and max — the emitted value
    is exactly floor(true_PAV_fit * 1e6), bit-identical in both
    engines, no iterative pooling loop needed.

    Scale shape: the corpus collapses to a <=601-row bin frame in one
    groupBy; everything after (cumsums, the j<=k interval enumeration
    via explode(sequence) + ONE broadcast equi-join — never a
    nested-loop — and the min/max windows) runs on grid-bounded frames,
    so the unpartitioned windows are config-sized by construction.
    At extreme corpus sizes (N above ~9e12 docs) the ppm numerator
    would leave int64; margins move to decimal(38) then — irrelevant at
    any tested or plausible scale."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(_logit_col() * 100 + F.lit(0.5)).cast("long"),
                F.lit(PAV_CLAMP_E2),
            ),
            F.lit(-PAV_CLAMP_E2),
        ).alias("bin_e2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    per = b.groupBy("bin_e2").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # <=601 rows from here on — the unpartitioned windows are grid-bounded.
    # asc_nulls_last pins Spark to DuckDB's NULLS LAST default: bin_e2 is
    # non-NULL today (text stays non-NULL per the sweep contract), but the
    # parity guarantee must not depend on that undocumented assumption.
    w_cum = Window.orderBy(F.asc_nulls_last("bin_e2")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pre = per.select(
        "bin_e2",
        "_n",
        "_p",
        F.row_number().over(Window.orderBy(F.asc_nulls_last("bin_e2"))).alias("_i"),
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
        F.col("_i").alias("_k"),
        F.col("_sn").alias("_snk"),
        F.col("_sp").alias("_spk"),
    )
    mj = (
        pairs.join(F.broadcast(right), "_k")
        .groupBy("_j")
        .agg(
            F.min(F.expr("((_spk - _spp) * 1000000) div (_snk - _snp)")).alias("_mj")
        )
    )
    w_fit = Window.orderBy("_j").rowsBetween(Window.unboundedPreceding, 0)
    fit = mj.select(F.col("_j").alias("_i"), F.max("_mj").over(w_fit).alias("_f"))
    return pre.join(F.broadcast(fit), "_i").select(
        "bin_e2",
        F.col("_n").cast("long").alias("n_docs"),
        F.col("_p").cast("long").alias("n_pos"),
        F.expr("(_p * 1000000) div _n").cast("long").alias("raw_ppm"),
        F.col("_f").cast("long").alias("fit_ppm"),
    )


ISOTONIC_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 100 + 0.5) AS BIGINT),
                        {PAV_CLAMP_E2}), -{PAV_CLAMP_E2}) AS bin_e2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s
),
per AS (SELECT bin_e2, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        FROM bb GROUP BY 1),
pre AS (
  SELECT bin_e2, n, p,
         row_number() OVER (ORDER BY bin_e2) AS i,
         sum(n) OVER (ORDER BY bin_e2) AS sn,
         sum(p) OVER (ORDER BY bin_e2) AS sp
  FROM per
),
pair AS (
  SELECT l.i AS j, r.i AS k,
         l.sn - l.n AS snp, l.sp - l.p AS spp,
         r.sn AS snk, r.sp AS spk
  FROM pre l JOIN pre r ON r.i >= l.i
),
mj AS (SELECT j, min(((spk - spp) * 1000000) // (snk - snp)) AS m
       FROM pair GROUP BY 1),
fit AS (SELECT j, max(m) OVER (ORDER BY j) AS f FROM mj)
SELECT pre.bin_e2, pre.n AS n_docs, pre.p AS n_pos,
       CAST((pre.p * 1000000) // pre.n AS BIGINT) AS raw_ppm,
       CAST(fit.f AS BIGINT) AS fit_ppm
FROM pre JOIN fit ON fit.j = pre.i
"""


# --- curriculum interleave schedule -------------------------------------------

#: schedule block size (positions per audited block).
CURRICULUM_BLOCK = 50

#: difficulty clamp in e4 logit units (difficulty = -logit: low-quality
#: text is HARD; the clamp keeps the integer grid bounded).
CURRICULUM_CLAMP_E4 = 1_000_000


def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training schedule audit: every document gets a
    deterministic schedule position — sources round-robin interleaved,
    each source internally ordered easy→hard by the shared quality
    logit — and the audit reports, per CURRICULUM_BLOCK-position block
    and source, how many docs land there and the block share. The
    mixture stays balanced at every prefix of training (what
    mixture_epoch_plan guarantees only in expectation) while difficulty
    ramps monotonically within each source.

    Position formula: pos = (rank_within_source - 1) * n_sources +
    source_index — a perfect interleave, no shuffle-order ambiguity.

    Exactness: difficulty is the clamped e4-floored negative logit;
    within-source rank tiebreaks on doc_id; source_index is the
    source's rank in lexicographic order. All integer.

    Scale shape: within-source ranks ride ``layout.dense_ids_by``
    (range-partitioned global ids over (source, difficulty, doc_id) —
    no single-partition sort, no per-source window skew) minus a
    per-source offset from the |sources|-row cumulative frame, which
    broadcasts. One groupBy to the (blocks x sources) audit frame; the
    share window runs on that bounded frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "source",
        F.greatest(
            F.least(
                (-F.floor(_logit_col() * 10000 + F.lit(0.5))).cast("long"),
                F.lit(CURRICULUM_CLAMP_E4),
            ),
            F.lit(-CURRICULUM_CLAMP_E4),
        ).alias("_diff_e4"),
    )
    gid = layout.dense_ids_by(scored, ["source", "_diff_e4", "doc_id"], "_gid")
    # |sources|-row dimension frame: offsets, index, count — broadcasts.
    # asc_nulls_last: source is non-NULL by generator contract, but the
    # cross-engine rank must not depend on Spark's NULLS FIRST default.
    w_src = Window.orderBy(F.asc_nulls_last("source"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dims = (
        gid.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "source",
            (
                F.sum("_cnt").over(
                    w_src.rowsBetween(Window.unboundedPreceding, 0)
                )
                - F.col("_cnt")
            ).alias("_off"),
            F.row_number().over(w_src).alias("_sidx"),
        )
        .withColumn("_nsrc", F.count(F.lit(1)).over(w_all))
    )
    pos = gid.join(F.broadcast(dims), "source").select(
        "source",
        (
            (F.col("_gid") - F.col("_off") - 1) * F.col("_nsrc") + F.col("_sidx")
        ).alias("_pos"),
    )
    blocks = pos.groupBy(
        F.expr(f"(_pos - 1) div {CURRICULUM_BLOCK}").cast("long").alias("block"),
        "source",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("_pos").cast("long").alias("min_pos"),
        F.max("_pos").cast("long").alias("max_pos"),
    )
    w_blk = Window.partitionBy("block")
    return blocks.select(
        "block",
        "source",
        "n_docs",
        F.col("n_docs").alias("_num"),
        F.sum("n_docs").over(w_blk).alias("_tot"),
        "min_pos",
        "max_pos",
    ).select(
        "block",
        "source",
        "n_docs",
        F.expr("(_num * 10000) div _tot").cast("long").alias("share_bp"),
        "min_pos",
        "max_pos",
    )


CURRICULUM_SQL = f"""
WITH {_logit_ctes()},
sc AS (
  SELECT s.doc_id, doc.source,
         greatest(least(-CAST(floor(logit * 10000 + 0.5) AS BIGINT),
                        {CURRICULUM_CLAMP_E4}), -{CURRICULUM_CLAMP_E4}) AS diff
  FROM s JOIN documents doc USING (doc_id)
),
r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY diff, doc_id) AS rs
  FROM sc
),
dims AS (
  SELECT source,
         row_number() OVER (ORDER BY source) AS sidx,
         count(*) OVER () AS nsrc
  FROM (SELECT DISTINCT source FROM sc)
),
p AS (
  SELECT r.source, (rs - 1) * nsrc + sidx AS pos
  FROM r JOIN dims USING (source)
),
blk AS (
  SELECT (pos - 1) // {CURRICULUM_BLOCK} AS block, source,
         count(*)::BIGINT AS n_docs,
         min(pos) AS min_pos, max(pos) AS max_pos
  FROM p GROUP BY 1, 2
)
SELECT CAST(block AS BIGINT) AS block, source, n_docs,
       CAST((n_docs * 10000) // sum(n_docs) OVER (PARTITION BY block)
         AS BIGINT) AS share_bp,
       CAST(min_pos AS BIGINT) AS min_pos,
       CAST(max_pos AS BIGINT) AS max_pos
FROM blk
"""


# --- adjacent-day active-user churn -------------------------------------------

def churn_jaccard_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day active-user overlap: for every day with a
    successor day in the data, the Jaccard similarity and retention
    rate of the two days' distinct active-user sets (both in basis
    points) — the churn/stickiness primitive behind DAU-overlap
    dashboards, and the temporal cousin of the source-overlap matrix
    (dedup_source_matrix measures corpus overlap across SOURCES; this
    measures user overlap across TIME).

    Exactness: all set sizes are exact distinct counts;
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) in floored bp (denominator >= 1
    whenever the day pair exists).

    Scale shape: ONE distinct aggregate to the (day, user) frame, an
    equi-join of that frame with its day-shifted self on
    (user_id, day) — co-partitioned, no inequality join — then two
    |days|-row joins. Nothing all-pairs; the heavy frame shuffles on
    the same composite key both times."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("_d"), "user_id").distinct()
    nd = du.groupBy("_d").agg(F.count(F.lit(1)).alias("_n"))
    # users active on day d+1, re-keyed to day d
    nxt = du.select(F.date_sub("_d", 1).alias("_d"), "user_id")
    inter = du.join(nxt, ["_d", "user_id"]).groupBy("_d").agg(
        F.count(F.lit(1)).alias("_i")
    )
    nd_next = nd.select(
        F.date_sub("_d", 1).alias("_d"), F.col("_n").alias("_n_next")
    )
    out = (
        nd.join(nd_next, "_d")
        .join(inter, "_d", "left")
        .select(
            F.col("_d").alias("day"),
            F.col("_n").cast("long").alias("n_day"),
            F.col("_n_next").cast("long").alias("n_next"),
            F.coalesce("_i", F.lit(0)).cast("long").alias("n_both"),
        )
    )
    return out.select(
        "day",
        "n_day",
        "n_next",
        "n_both",
        F.expr("(n_both * 10000) div (n_day + n_next - n_both)")
        .cast("long")
        .alias("jaccard_bp"),
        F.expr("(n_both * 10000) div n_day").cast("long").alias("retention_bp"),
    )


CHURN_JACCARD_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
nd AS (SELECT d, count(*)::BIGINT AS n FROM du GROUP BY 1),
inter AS (
  SELECT a.d, count(*)::BIGINT AS i
  FROM du a JOIN du b ON b.user_id = a.user_id AND b.d = a.d + 1
  GROUP BY 1
),
pair AS (
  SELECT a.d, a.n AS n_day, b.n AS n_next, coalesce(i.i, 0) AS n_both
  FROM nd a
  JOIN nd b ON b.d = a.d + 1
  LEFT JOIN inter i ON i.d = a.d
)
SELECT d AS day, n_day, n_next, CAST(n_both AS BIGINT) AS n_both,
       CAST((n_both * 10000) // (n_day + n_next - n_both) AS BIGINT)
         AS jaccard_bp,
       CAST((n_both * 10000) // n_day AS BIGINT) AS retention_bp
FROM pair
"""


# --- deterministic discrete-Laplace noisy counts ------------------------------

#: discrete Laplace (two-sided geometric) with alpha = 1/2, tails
#: clamped to [-8, 8]: P(X=k) = (1/3)(1/2)^|k|, an EXACT rational law.
#: Thresholds are floor(P(X' <= k) * 2^30) computed once in exact
#: Fraction arithmetic and interpolated into BOTH engines — zero
#: runtime transcendentals, zero float probability anywhere.
DP_NOISE_MAX = 8
_DP_WHEEL = 1 << 30


def _dp_thresholds() -> list[int]:
    a = Fraction(1, 2)
    p0 = (1 - a) / (1 + a)
    # clamped law: mass of |k| >= MAX collapses onto +/-MAX
    probs = {}
    for k in range(-DP_NOISE_MAX + 1, DP_NOISE_MAX):
        probs[k] = p0 * a ** abs(k)
    tail = (p0 * a**DP_NOISE_MAX) / (1 - a)  # sum_{j >= MAX} p0*a^j
    probs[-DP_NOISE_MAX] = tail
    probs[DP_NOISE_MAX] = tail
    cum, out = Fraction(0), []
    for k in range(-DP_NOISE_MAX, DP_NOISE_MAX + 1):
        cum += probs[k]
        out.append(min(int(cum * _DP_WHEEL), _DP_WHEEL))
    out[-1] = _DP_WHEEL  # exact total mass
    return out


_DP_T = _dp_thresholds()

#: CASE ladder mapping u in [0, 2^30) to the noise value — one string,
#: valid in BOTH engines (plain CASE WHEN / ELSE).
_DP_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {{u}} < {t} THEN {k}"
        for k, t in zip(range(-DP_NOISE_MAX, DP_NOISE_MAX), _DP_T[:-1])
    )
    + f" ELSE {DP_NOISE_MAX} END"
)


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style noisy release of the per
    (event_type, day) activity counts: each cell's true count, a
    discrete-Laplace noise draw (alpha=1/2, clamped +/-8, the geometric
    mechanism for eps = ln 2 count queries), and the clamped-at-zero
    noisy count. The draw is DETERMINISTIC — the md5 wheel keyed on the
    cell — so releases are reproducible and engine-portable, the same
    policy every "randomized" house query follows (epoch shuffle,
    bootstrap, poisson mixing all ride the same wheel).

    Exactness: the inverse CDF is a precomputed EXACT rational ladder
    (Fraction arithmetic, floor to the 2^30 wheel) interpolated into
    both engines; u = md5(type|day|salt) % 2^30. No runtime
    transcendental, no float probability.

    Scale shape: one groupBy to the |types| x |days| cell frame;
    the noise map is a scalar CASE ladder — map-only after the
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    from ..operators import dedup

    u = (
        dedup.md5_int(
            F.concat(
                F.col("event_type"),
                F.lit("|"),
                F.col("day").cast("string"),
                F.lit("|dplap"),
            )
        )
        % _DP_WHEEL
    )
    noisy = cells.withColumn("_u", u).withColumn(
        "noise", F.expr(_DP_CASE.format(u="_u")).cast("long")
    )
    return noisy.select(
        "event_type",
        "day",
        "n",
        "noise",
        F.greatest(F.col("n") + F.col("noise"), F.lit(0))
        .cast("long")
        .alias("noisy_n"),
    )


DP_NOISY_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
drawn AS (
  SELECT event_type, day, n,
         {_MD5_BIGINT.format(expr="event_type || '|' || day::VARCHAR || '|dplap'")}
           % {_DP_WHEEL} AS u
  FROM cells
)
SELECT event_type, day, n,
       CAST({_DP_CASE.format(u="u")} AS BIGINT) AS noise,
       CAST(greatest(n + {_DP_CASE.format(u="u")}, 0) AS BIGINT) AS noisy_n
FROM drawn
"""


# --- per-fold cross-validation scores -----------------------------------------

def cv_fold_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold evaluation of the shared quality-logit classifier
    (predict en when logit >= 0) under the SAME md5-wheel fold
    assignment stratified_kfold_assign audits: per fold, the full
    confusion matrix plus accuracy / precision / recall in basis
    points. stratified_kfold_assign certifies the folds are balanced;
    this reports the metric VARIANCE across them — the cross-validation
    readout that says whether the global AUC is stable or one lucky
    fold.

    Exactness: the confusion cells are exact integer sums of indicator
    products; rates are floored bp with CASE guards on empty
    denominators (-1 sentinel), mirrored in both engines. The logit>=0
    predicate compares the SAME IEEE double expression both engines
    evaluate identically (the decile/threshold queries already pin
    this).

    Scale shape: map-only scoring, one groupBy to the |folds|-row
    frame. Nothing else."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    lab = docs.select(
        hash_bucket(F.col("doc_id"), "kfold", KFOLDS).cast("long").alias("fold"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        F.when(_logit_col() >= 0, 1).otherwise(0).cast("long").alias("_yh"),
    )
    per = lab.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("_y * _yh")).cast("long").alias("tp"),
        F.sum(F.expr("(1 - _y) * _yh")).cast("long").alias("fp"),
        F.sum(F.expr("_y * (1 - _yh)")).cast("long").alias("fn"),
        F.sum(F.expr("(1 - _y) * (1 - _yh)")).cast("long").alias("tn"),
    )
    return per.select(
        "fold",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("((tp + tn) * 10000) div n_docs").cast("long").alias("acc_bp"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (tp * 10000) div (tp + fp) ELSE -1 END"
        )
        .cast("long")
        .alias("prec_bp"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (tp * 10000) div (tp + fn) ELSE -1 END"
        )
        .cast("long")
        .alias("rec_bp"),
    )


_CV_FOLD_HASH = _MD5_BIGINT.format(expr="doc_id::VARCHAR || 'kfold'")

CV_FOLD_SQL = f"""
WITH {_logit_ctes()},
lab AS (
  SELECT {_CV_FOLD_HASH} % {KFOLDS} AS fold,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS yh
  FROM s
),
per AS (
  SELECT fold, count(*)::BIGINT AS n_docs,
         sum(y * yh)::BIGINT AS tp,
         sum((1 - y) * yh)::BIGINT AS fp,
         sum(y * (1 - yh))::BIGINT AS fn,
         sum((1 - y) * (1 - yh))::BIGINT AS tn
  FROM lab GROUP BY 1
)
SELECT CAST(fold AS BIGINT) AS fold, n_docs, tp, fp, fn, tn,
       CAST(((tp + tn) * 10000) // n_docs AS BIGINT) AS acc_bp,
       CAST(CASE WHEN tp + fp > 0 THEN (tp * 10000) // (tp + fp) ELSE -1 END
         AS BIGINT) AS prec_bp,
       CAST(CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn) ELSE -1 END
         AS BIGINT) AS rec_bp
FROM per
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
    from ..operators import sampling
    from ..operators.derive import cents

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
        (sampling.hash_bucket(F.col("user_id"), "mw", 2) == 0).alias("_a"),
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
import math as _math

SPRT_P0 = Fraction(5, 100)
SPRT_P1 = Fraction(8, 100)
SPRT_L_SUCC = round(_math.log(float(SPRT_P1 / SPRT_P0)) * 1_000_000)
SPRT_L_FAIL = round(
    _math.log(float((1 - SPRT_P1) / (1 - SPRT_P0))) * 1_000_000
)
SPRT_A_E6 = round(_math.log(0.95 / 0.05) * 1_000_000)   # accept H1 above
SPRT_B_E6 = round(_math.log(0.05 / 0.95) * 1_000_000)   # accept H0 below


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


# --- rank-biased overlap drift of daily leaderboards ---------------------------

RBO_K = 10            #: list depth
_RBO_P = Fraction(9, 10)  #: persistence parameter

#: exact truncated-RBO contribution of a common member whose worst rank
#: across the two lists is m: C_m = sum_{d=m..K} (1-p) p^(d-1) / d,
#: computed ONCE in exact rational arithmetic and floored to e6 —
#: RBO@K = sum_m count_m * C_m is then pure integer in BOTH engines.
_RBO_C = [
    int(
        sum(
            (1 - _RBO_P) * _RBO_P ** (d - 1) / d
            for d in range(m, RBO_K + 1)
        )
        * 1_000_000
    )
    for m in range(1, RBO_K + 1)
]
_RBO_C_CASE = (
    "CASE m "
    + " ".join(f"WHEN {m} THEN {c}" for m, c in enumerate(_RBO_C, start=1))
    + " ELSE 0 END"
)


def rbo_leaderboard_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between ADJACENT DAYS' top-10
    purchase-value user leaderboards — the ranked-list stability monitor
    set-overlap churn can't provide (churn_jaccard_daily weighs rank 1
    and rank 10 equally; RBO discounts geometrically, so a reshuffle at
    the top moves the score and tail noise doesn't).

    Exactness: daily ranks come from exact integer cents with a user_id
    tiebreak; a common member with ranks (ra, rb) joins the overlap at
    every depth d >= max(ra, rb), so truncated RBO@K collapses to
    sum_m count_m * C_m with the C_m table precomputed in exact rational
    arithmetic and interpolated into BOTH engines — the whole score is
    integer e6, no runtime powers.

    Scale shape: one (day, user) aggregate, one per-day top-10 window
    (day-partitioned — no global sort), then a request-sized equi-join
    of adjacent days' 10-row lists and a |days|-row aggregate. Every
    post-window frame is |days|×10-bounded, so all three joins carry
    F.broadcast hints — the whole tail is exchange-free (no sort-merge
    join anywhere in the plan)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "_cents"
        )
    )
    w = Window.partitionBy("day").orderBy(F.desc("_cents"), F.asc("user_id"))
    top = (
        daily.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= RBO_K)
        .select("day", "user_id", "_r")
    )
    nxt = top.select(
        F.date_sub("day", 1).alias("day"),
        "user_id",
        F.col("_r").alias("_rb"),
    )
    common = top.join(F.broadcast(nxt), ["day", "user_id"]).select(
        "day", F.greatest("_r", "_rb").alias("m")
    )
    days = top.groupBy("day").agg(F.count(F.lit(1)).alias("_ka"))
    days_next = days.select(
        F.date_sub("day", 1).alias("day"), F.col("_ka").alias("_kb")
    )
    pairs = days.join(F.broadcast(days_next), "day")
    scored = common.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(F.expr(_RBO_C_CASE)).cast("long").alias("rbo_e6"),
    )
    return (
        pairs.join(F.broadcast(scored), "day", "left")
        .select(
            "day",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.coalesce("rbo_e6", F.lit(0)).cast("long").alias("rbo_e6"),
        )
    )


RBO_DRIFT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
),
top AS (
  SELECT day, user_id, r FROM (
    SELECT day, user_id,
           row_number() OVER (PARTITION BY day
                              ORDER BY cents DESC, user_id ASC) AS r
    FROM daily) WHERE r <= {RBO_K}
),
common AS (
  SELECT a.day, greatest(a.r, b.r) AS m
  FROM top a JOIN top b
    ON b.user_id = a.user_id AND b.day = a.day + 1
),
days AS (SELECT day, count(*) AS ka FROM top GROUP BY 1),
pairs AS (
  SELECT a.day FROM days a JOIN days b ON b.day = a.day + 1
),
scored AS (
  SELECT day, count(*)::BIGINT AS n_common,
         CAST(sum({_RBO_C_CASE}) AS BIGINT) AS rbo_e6
  FROM common GROUP BY 1
)
SELECT p.day,
       coalesce(s.n_common, 0)::BIGINT AS n_common,
       coalesce(s.rbo_e6, 0)::BIGINT AS rbo_e6
FROM pairs p LEFT JOIN scored s ON s.day = p.day
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
    from ..operators import sampling

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
        "_g", sampling.hash_bucket(F.col("user_id"), "cuped", 2).cast("long")
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
