"""Round-6 additions: feature-engineering and association analytics the
training-data pipeline still lacked — leave-one-out target encoding (the
leakage-free categorical encoder), a contingency association audit
(chi² + mutual information over one shared integer contingency table),
a nearest-tolerance as-of match (the bidirectional cousin of
``asof_signup_attribution``), and per-day time-weighted average value
(TWAP — duration-weighted, not row-weighted, means).

House rules (see oracle_harness / driver canon): scalar outputs only
(never array/map/struct), counts cast to long, ratios as floor-form
integer scalings, integer division only on non-negative operands
(measured r9: BOTH Spark ``div`` and DuckDB ``//`` truncate toward
zero — an earlier claim that ``//`` floors was wrong; the non-negative
rule stays as the portability contract), every window with a running/lead/lag over ts carries an
``event_id`` tiebreak in BOTH engines, and shared constants are
interpolated into both from the same Python value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..session import load_table


# --- leave-one-out target encoding -------------------------------------------

def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against order value: each order's encoded feature is the mean order
    value (cents) of its segment EXCLUDING the order itself — the
    standard leakage-free categorical encoder for tree/linear models
    (a plain segment mean would leak each row's own target into its
    feature; LOO is what production feature stores actually ship).

    Exactness: loo = (seg_sum − own) // (seg_n − 1) — non-negative
    integer division, identical in both engines; NULL when the segment
    has a single order (no leave-one-out population exists).

    Scale shape: one orders⋈customer equi-join (customer is the smaller
    relation; at warehouse scale this is the fact→dim join AQE plans as
    broadcast when the dim fits), one |segments|-row aggregate that IS
    broadcast, and a map-side re-join — the per-row encoding never
    shuffles the fact table a second time."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    fact = orders.select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("own_cents"),
    ).join(cust, F.col("o_custkey") == F.col("c_custkey"))
    stats = fact.groupBy("segment").agg(
        F.sum("own_cents").alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    return (
        fact.join(F.broadcast(stats), "segment")
        .select(
            "o_orderkey",
            "segment",
            "own_cents",
            F.when(
                F.col("seg_n") > 1,
                F.expr("(seg_sum - own_cents) div (seg_n - 1)"),
            )
            .cast("long")
            .alias("loo_cents"),
        )
    )


TARGET_ENCODE_SQL = f"""
WITH fact AS (
  SELECT o_orderkey,
         c_mktsegment AS segment,
         {CENTS_SQL.format(x="o_totalprice")} AS own_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
stats AS (
  SELECT segment, sum(own_cents) AS seg_sum, count(*) AS seg_n
  FROM fact GROUP BY 1
)
SELECT o_orderkey,
       f.segment,
       own_cents,
       CAST(CASE WHEN seg_n > 1
                 THEN (seg_sum - own_cents) // (seg_n - 1)
            END AS BIGINT) AS loo_cents
FROM fact f JOIN stats s ON f.segment = s.segment
"""


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


# --- nearest-tolerance as-of match -------------------------------------------

#: match tolerance for error→purchase proximity (seconds)
ASOF_NEAREST_TOL_S = 3600


def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of match: every 'error' event is matched to
    its temporally NEAREST same-user 'purchase' (backward or forward,
    ties to the earlier side) within a tolerance — the bidirectional
    as-of join (``asof_signup_attribution`` is backward-only; incident
    triage wants "the purchase closest to the failure", either side).
    Reported per user: error count, matched count, backward-side count,
    and min/total matched gap.

    Exactness: gaps are integer micros; the tie rule (backward wins at
    equal distance) and the (tus, event_id) window tiebreak are total
    orders, so the match is unique in both engines.

    Scale shape: the classic union-sort formulation — ONE window scan
    over the per-user timeline (last/first IGNORE NULLS carry the
    neighbor purchase through the error rows), never an events×events
    join; the two windows share one partitioning, so Spark plans a
    single sort+exchange. The paired last(tus)/last(event-condition)
    columns come from the same neighbor row because both are non-null
    exactly on purchase rows."""
    tol_us = ASOF_NEAREST_TOL_S * 1_000_000
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("tus"),
        )
    )
    is_p = F.col("event_type") == "purchase"
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    timeline = ev.select(
        "user_id",
        "event_type",
        "tus",
        F.last(F.when(is_p, F.col("tus")), ignorenulls=True).over(w_prev).alias("ptus"),
        F.first(F.when(is_p, F.col("tus")), ignorenulls=True).over(w_next).alias("ntus"),
    )
    err = timeline.filter(F.col("event_type") == "error")
    gap_prev = F.col("tus") - F.col("ptus")
    gap_next = F.col("ntus") - F.col("tus")
    gap = (
        F.when(F.col("ptus").isNull(), gap_next)
        .when(F.col("ntus").isNull(), gap_prev)
        .otherwise(F.least(gap_prev, gap_next))
    )
    chose_prev = F.col("ptus").isNotNull() & (
        F.col("ntus").isNull() | (gap_prev <= gap_next)
    )
    scored = err.select(
        "user_id",
        gap.alias("gap_us"),
        (gap <= tol_us).alias("m"),
        chose_prev.alias("cp"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_errors"),
        F.sum(F.when(F.col("m"), 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum(F.when(F.col("m") & F.col("cp"), 1).otherwise(0))
        .cast("long")
        .alias("n_backward"),
        F.min(F.when(F.col("m"), F.col("gap_us"))).cast("long").alias("min_gap_us"),
        F.sum(F.when(F.col("m"), F.col("gap_us"))).cast("long").alias("sum_gap_us"),
    )


ASOF_NEAREST_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
  FROM events WHERE event_type IN ('purchase', 'error')
),
timeline AS (
  SELECT user_id, event_type, tus,
         last_value(CASE WHEN event_type = 'purchase' THEN tus END IGNORE NULLS)
             OVER wp AS ptus,
         first_value(CASE WHEN event_type = 'purchase' THEN tus END IGNORE NULLS)
             OVER wn AS ntus
  FROM ev
  WINDOW wp AS (PARTITION BY user_id ORDER BY tus, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY tus, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
scored AS (
  SELECT user_id,
         CASE WHEN ptus IS NULL THEN ntus - tus
              WHEN ntus IS NULL THEN tus - ptus
              ELSE least(tus - ptus, ntus - tus) END AS gap_us,
         ptus IS NOT NULL AND (ntus IS NULL OR tus - ptus <= ntus - tus) AS cp
  FROM timeline WHERE event_type = 'error'
)
SELECT user_id,
       count(*)::BIGINT AS n_errors,
       CAST(sum(CASE WHEN gap_us <= {ASOF_NEAREST_TOL_S * 1_000_000} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN gap_us <= {ASOF_NEAREST_TOL_S * 1_000_000} AND cp
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_backward,
       CAST(min(CASE WHEN gap_us <= {ASOF_NEAREST_TOL_S * 1_000_000} THEN gap_us END)
            AS BIGINT) AS min_gap_us,
       CAST(sum(CASE WHEN gap_us <= {ASOF_NEAREST_TOL_S * 1_000_000} THEN gap_us END)
            AS BIGINT) AS sum_gap_us
FROM scored GROUP BY 1
"""


# --- per-day time-weighted average value (TWAP) ------------------------------

def twap_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day TIME-weighted average purchase value: each purchase's
    value is weighted by how long it stood (duration to the user's next
    same-day purchase), then the day's weighted sums are merged across
    users — the TWAP every pricing/telemetry dashboard wants where a
    row-weighted mean over-counts burst activity. The last segment of
    each user-day has no duration and drops out (standard left-closed
    TWAP).

    Exactness: durations are integer MILLIS (micros ÷ 1000, non-negative
    integer division) so value_cents × dur_ms sums stay well inside
    int64 at every tested scale; the single final division is integer
    `div`, guarded on zero total duration (a day whose purchases all
    share one timestamp per user). At petabyte scale the weighted sum
    would move to decimal(38) — noted, not needed here.

    Scale shape: one (user, day)-partitioned lead window (one exchange),
    then a per-day integer aggregate — ~O(days) output rows; no join."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
        cents("value").alias("v_cents"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("tus", "event_id")
    seg = base.withColumn("ntus", F.lead("tus").over(w)).filter(
        F.col("ntus").isNotNull()
    )
    seg = seg.select(
        "day",
        F.expr("(ntus - tus) div 1000").alias("dur_ms"),
        "v_cents",
    )
    daily = seg.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("dur_ms").cast("long").alias("total_dur_ms"),
        F.sum(F.col("v_cents") * F.col("dur_ms")).alias("wsum"),
    )
    return daily.select(
        "day",
        "n_segments",
        "total_dur_ms",
        F.when(F.col("total_dur_ms") > 0, F.expr("wsum div total_dur_ms"))
        .cast("long")
        .alias("twap_cents"),
    )


TWAP_SQL = f"""
WITH base AS (
  SELECT user_id,
         ts::DATE AS day,
         epoch_us(ts) AS tus,
         event_id,
         {CENTS_SQL.format(x="value")} AS v_cents
  FROM events WHERE event_type = 'purchase'
),
seg AS (
  SELECT day,
         (lead(tus) OVER w - tus) // 1000 AS dur_ms,
         v_cents
  FROM base
  WINDOW w AS (PARTITION BY user_id, day ORDER BY tus, event_id)
)
SELECT day,
       count(*)::BIGINT AS n_segments,
       CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
       CAST(CASE WHEN sum(dur_ms) > 0
                 THEN sum(v_cents * dur_ms) // sum(dur_ms)
            END AS BIGINT) AS twap_cents
FROM seg WHERE dur_ms IS NOT NULL
GROUP BY 1
"""


# --- nDCG@10 retrieval eval --------------------------------------------------

import math

NDCG_K = 10
#: integer micro-scaled log2 discounts, computed ONCE in Python and
#: interpolated into BOTH engines — no runtime log2, whose libm values
#: differ between engines (the same trick MRR_SCALE plays for 1/rank).
_NDCG_W = [round(1_000_000 / math.log2(r + 1)) for r in range(1, NDCG_K + 1)]
_NDCG_PREFIX = [0]
for _w in _NDCG_W:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _w)

_W_CASE = "CASE rank " + " ".join(
    f"WHEN {r} THEN {w}" for r, w in enumerate(_NDCG_W, start=1)
) + " ELSE 0 END"
_IDCG_CASE = "CASE least(n_relevant, {k}) ".format(k=NDCG_K) + " ".join(
    f"WHEN {i} THEN {p}" for i, p in enumerate(_NDCG_PREFIX)
) + " END"


def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of cosine retrieval with label agreement as the relevance
    judgment — the position-sensitive retrieval metric MRR can't provide
    (MRR sees only the FIRST hit; nDCG credits every hit, discounted by
    log2 rank). Per query: hit count, DCG, ideal DCG and nDCG in basis
    points.

    Exactness: the log2 discounts are integer micro-weights computed
    once in Python (``_NDCG_W``) and interpolated into BOTH engines, so
    DCG = Σ rel·w(rank) and IDCG = prefix(min(hits, 10)) are exact
    integer sums, and nDCG is one non-negative integer division —
    bit-stable cross-engine with zero runtime transcendentals.

    Scale shape: identical to retrieval_mrr_eval — the ranked list is
    request-sized (|Q|·k) from ONE corpus scan (vector.cosine_topk_batch
    bucketed partial top-k); relevance attaches by broadcasting the
    ranked list against the corpus label projection; the metric
    aggregate groups |Q| rows."""
    from ..operators import vector

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    top = vector.cosine_topk_batch(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k=NDCG_K
    )
    lab = emb.select("vec_id", "label")
    qlab = queries.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"))
    judged = (
        lab.join(F.broadcast(top.select("qid", "rank", "vec_id")), "vec_id")
        .join(F.broadcast(qlab), "qid")
        .withColumn(
            # F.when mirrors the oracle CASE: NULL labels -> 0, never
            # NULL (nulls-sweep class — bare == propagates NULL)
            "rel",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).cast("long"),
        )
    )
    per_q = judged.groupBy("qid", "qlabel").agg(
        F.sum("rel").cast("long").alias("n_relevant"),
        F.sum(F.expr(f"rel * ({_W_CASE})")).cast("long").alias("dcg_e6"),
    )
    return per_q.select(
        "qid",
        "qlabel",
        "n_relevant",
        "dcg_e6",
        F.expr(_IDCG_CASE).cast("long").alias("idcg_e6"),
        F.expr(
            f"CASE WHEN ({_IDCG_CASE}) > 0"
            f" THEN (dcg_e6 * 10000) div ({_IDCG_CASE}) ELSE 0 END"
        )
        .cast("long")
        .alias("ndcg_bp"),
    )


_COS_R6 = """
list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
 / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
  * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
"""

NDCG_EVAL_SQL = f"""
WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         {_COS_R6.format(a='e.embedding', b='q.qv')} AS cos
  FROM embeddings e, q
  WHERE e.vec_id != q.qid
),
topk AS (
  SELECT qid, qlabel, label,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
  QUALIFY rank <= {NDCG_K}
),
per_q AS (
  SELECT qid, qlabel,
         CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
         CAST(sum(CASE WHEN label = qlabel THEN ({_W_CASE}) ELSE 0 END) AS BIGINT)
           AS dcg_e6
  FROM topk GROUP BY 1, 2
)
SELECT qid, qlabel, n_relevant, dcg_e6,
       CAST({_IDCG_CASE} AS BIGINT) AS idcg_e6,
       CAST(CASE WHEN ({_IDCG_CASE}) > 0
                 THEN (dcg_e6 * 10000) // ({_IDCG_CASE}) ELSE 0 END AS BIGINT)
         AS ndcg_bp
FROM per_q
"""


# --- quality-score decile lift / calibration table ---------------------------

#: shared quality-logit feature CTEs — the SAME "trained offline" linear
#: model quality_logit_inference / quality_logit_auc execute
#: (extension_queries.py); the label is lang=='en', as in the AUC gate.
def _logit_ctes() -> str:
    from ..operators import textops
    from .extension_queries import _ratio_sql

    return rf"""
t AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
         length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[^a-zA-Z0-9]', '', 'g')) AS n_alnum,
         list_sum(list_transform(regexp_split_to_array(lower(text), '\s+'), w -> length(w))) AS sum_wlen,
         len(regexp_split_to_array(lower(text), '\s+')) AS n_tok_raw,
         {_ratio_sql(textops.LANG_PROFILES["en"])} AS stop_r
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         2.0 * least(n_tokens / 200.0, 1.0)
         - 6.0 * ((n_nonws - n_alnum) / greatest(n_nonws, 1)::DOUBLE)
         + 10.0 * stop_r
         - 0.2 * (sum_wlen / greatest(n_tok_raw, 1)::DOUBLE)
         - 0.3 AS logit
  FROM t
)"""


def _logit_col() -> "Column":
    from ..operators import textops

    return (
        2.0 * F.least(textops.token_count("text") / 200.0, F.lit(1.0))
        - 6.0 * textops.punct_ratio("text")
        + 10.0 * textops.stopword_ratio("text")
        - 0.2 * textops.mean_word_length("text")
        - 0.3
    )


def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / calibration table for the fused quality classifier —
    the model-eval companion AUC can't provide: AUC says the ranking is
    good overall; the lift table says WHICH score band to ship (decile 1
    = top scores; per decile the observed positive rate, lift over base
    rate, and cumulative capture of all positives).

    Exactness: the sort key is the e4-integer-scaled logit (floor form)
    with a doc_id tiebreak, so the total order is bit-stable; decile
    assignment, rates, lift and capture are all non-negative integer
    divisions in basis points.

    Scale shape: the global rank comes from ``layout.dense_ids_by``
    (range partition + per-partition rank + O(partitions) offset carry —
    NO single-partition sort); the grand totals attach as a broadcast
    1-row frame; every downstream window runs on the 10-row decile
    frame."""
    from ..operators import layout
    from ..session import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        F.floor(_logit_col() * 10000 + F.lit(0.5)).cast("long").alias("_s_e4"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    keyed = scored.withColumn("_nk", -F.col("_s_e4"))
    ranked = layout.dense_ids_by(keyed, ["_nk", "doc_id"], id_name="_rank")
    totals = scored.agg(
        F.count(F.lit(1)).cast("long").alias("_n_total"),
        F.sum("_y").cast("long").alias("_p_total"),
    )
    dec = ranked.crossJoin(F.broadcast(totals)).select(
        F.expr("((_rank - 1) * 10) div _n_total + 1").cast("long").alias("decile"),
        "_y",
        "_n_total",
        "_p_total",
    )
    per = dec.groupBy("decile", "_n_total", "_p_total").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.withColumn("_cum_pos", F.sum("n_pos").over(w))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            F.expr("(n_pos * 10000) div n_docs").cast("long").alias("pos_rate_bp"),
            # a corpus with zero positives (tiny-sweep class) leaves
            # lift/capture undefined — -1 sentinel, mirrored
            F.expr(
                "CASE WHEN _p_total > 0 THEN"
                " (n_pos * _n_total * 10000) div (n_docs * _p_total)"
                " ELSE -1 END"
            )
            .cast("long")
            .alias("lift_bp"),
            F.expr(
                "CASE WHEN _p_total > 0 THEN (_cum_pos * 10000) div _p_total"
                " ELSE -1 END"
            )
            .cast("long")
            .alias("cum_capture_bp"),
        )
    )


DECILE_LIFT_SQL = f"""
WITH {_logit_ctes()},
sc AS (
  SELECT doc_id,
         CAST(floor(logit * 10000 + 0.5) AS BIGINT) AS s_e4,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM s
),
r AS (
  SELECT doc_id, y,
         CAST(row_number() OVER (ORDER BY -s_e4 ASC, doc_id ASC) AS BIGINT) AS rnk
  FROM sc
),
tot AS (SELECT count(*)::BIGINT AS n_total, sum(y)::BIGINT AS p_total FROM sc),
d AS (SELECT ((rnk - 1) * 10) // n_total + 1 AS decile, y, n_total, p_total
      FROM r, tot),
per AS (
  SELECT decile, n_total, p_total,
         count(*)::BIGINT AS n_docs, sum(y)::BIGINT AS n_pos
  FROM d GROUP BY 1, 2, 3
)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
       (n_pos * 10000) // n_docs AS pos_rate_bp,
       CASE WHEN p_total > 0
            THEN (n_pos * n_total * 10000) // (n_docs * p_total)
            ELSE -1 END AS lift_bp,
       CAST(CASE WHEN p_total > 0
            THEN (sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000) // p_total
            ELSE -1 END AS BIGINT) AS cum_capture_bp
FROM per
"""


# --- precision/recall threshold sweep ----------------------------------------

#: decision-threshold grid in e2-scaled logit units (-1.0 .. 2.0); one
#: Python constant interpolated into both engines.
PR_THRESHOLDS_E2 = [-100, -50, 0, 50, 100, 150, 200]


def threshold_sweep_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep of the quality classifier over a fixed
    decision-threshold grid — the operating-point table a release gate
    reads next to the AUC (AUC is threshold-free; shipping needs ONE
    threshold, chosen from exactly this sweep).

    Exactness: scores quantize to the e2-integer bucket (the AUC gate's
    bucketing); confusion counts are integer sums over (bucket ≥ t);
    precision/recall/F1 are basis-point integer divisions, F1 computed
    from the bp precision/recall pair, NULL when the denominator is
    empty.

    Scale shape: one corpus groupBy to the score-range-bounded histogram;
    the 7-threshold grid attaches to that bounded frame with a broadcast
    nested-loop (config-sized side, the house scalar-subquery form) —
    the corpus is scanned ONCE for all thresholds."""
    from ..session import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hist = (
        docs.select(
            F.floor(_logit_col() * 100 + F.lit(0.5)).cast("long").alias("_b"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_y").cast("long").alias("_pos"),
            F.sum(1 - F.col("_y")).cast("long").alias("_neg"),
        )
    )
    grid = spark.range(len(PR_THRESHOLDS_E2)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in PR_THRESHOLDS_E2]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("threshold_e2")
    )
    conf = (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("threshold_e2")
        .agg(
            F.sum(F.when(F.col("_b") >= F.col("threshold_e2"), F.col("_pos")).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(F.col("_b") >= F.col("threshold_e2"), F.col("_neg")).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(F.col("_b") < F.col("threshold_e2"), F.col("_pos")).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(F.col("_b") < F.col("threshold_e2"), F.col("_neg")).otherwise(0)).cast("long").alias("tn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.expr("(tp * 10000) div (tp + fp)"))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.expr("(tp * 10000) div (tp + fn)"))
    out = conf.withColumn("precision_bp", prec.cast("long")).withColumn(
        "recall_bp", rec.cast("long")
    )
    f1 = F.when(
        F.col("precision_bp") + F.col("recall_bp") > 0,
        F.expr("(2 * precision_bp * recall_bp) div (precision_bp + recall_bp)"),
    )
    return out.withColumn("f1_bp", f1.cast("long"))


_PR_GRID_SQL = " UNION ALL ".join(
    f"SELECT CAST({t} AS BIGINT) AS threshold_e2" for t in PR_THRESHOLDS_E2
)

THRESHOLD_SWEEP_SQL = f"""
WITH {_logit_ctes()},
h AS (
  SELECT CAST(floor(logit * 100 + 0.5) AS BIGINT) AS b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS neg
  FROM s GROUP BY 1
),
g AS ({_PR_GRID_SQL}),
conf AS (
  SELECT threshold_e2,
         sum(CASE WHEN b >= threshold_e2 THEN pos ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN b >= threshold_e2 THEN neg ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN b < threshold_e2 THEN pos ELSE 0 END)::BIGINT AS fn,
         sum(CASE WHEN b < threshold_e2 THEN neg ELSE 0 END)::BIGINT AS tn
  FROM h, g GROUP BY 1
),
rates AS (
  SELECT *,
         CASE WHEN tp + fp > 0 THEN (tp * 10000) // (tp + fp) END AS precision_bp,
         CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn) END AS recall_bp
  FROM conf
)
SELECT threshold_e2, tp, fp, fn, tn, precision_bp, recall_bp,
       CASE WHEN precision_bp + recall_bp > 0
            THEN (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
       END AS f1_bp
FROM rates
"""


# ============================================================================
# Round-6 in-round additions (registered in the round-6 window): the IVF
# recall gate that retires the registry's last no-oracle entry, plus five
# training-pipeline primitives — mutual-nearest-neighbor matching, a
# deterministic Poisson-bootstrap CI, a split-conformal coverage gate,
# half-life-decayed user value, and inverse-frequency class weights.
# ============================================================================

#: IVF gate config — one Python constant set interpolated into BOTH engines.
IVF_GATE_C = 8          #: coarse-quantizer cells (seeds = vec_id < C)
IVF_GATE_NPROBE = 3     #: cells probed per query
IVF_GATE_K = 10         #: top-k depth for recall
_IVF_Q = 1000           #: quantization scale (integer grid = floor(x*Q))
_IVF_OFF = 10000        #: non-negativity offset (|x| << OFF for any normalized embedding)
IVF_RECALL_MIN_BP = 7000  #: pinned recall floor (observed 9125/9125/9875 bp at sf0.001/0.01/0.1)


def _int_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two array<long> columns — folded
    left-to-right in array order, so both engines produce the identical
    (exact) integer."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN recall gate — the driver-checkable certificate for the
    ``sim_ann_ivf`` production path (which stays no-oracle because its
    float k-means is order-sensitive). This gate rebuilds the SAME IVF
    mechanism — coarse-quantize, probe the n_probe nearest cells, exact
    cosine re-rank — on an ENGINE-PORTABLE quantizer, then measures
    probe-recall against the exact top-k in-query and emits a boolean,
    the ``dedup_minhash_estimate_gate`` pattern (estimate → exact gate).

    Portability: vectors quantize to an integer grid (floor(x·1000));
    the quantizer is one exact Lloyd step from the C lowest-id seeds —
    cluster means as FLOOR-DIVIDED integers at scale Q·1000, shifted by
    +OFF before dividing so Spark ``div`` (truncate) equals DuckDB ``//``
    (floor); floor(a + c·n)/n = c + floor(a/n) for integer c, so the
    shift cancels in every distance comparison. All assignments are exact
    integer argmins with (dist, cell) tiebreaks; only the final re-rank
    uses the double cosine, whose fold order is identical in both engines
    (the proven sim/knn-eval pattern). Distance terms are per-row:
    worst-case |term| ≈ dim·(2·578e3)² ≈ 8.6e13, int64-safe regardless of
    corpus size. The one data-sized integer is the Lloyd numerator
    (_s + _n·OFF)·Q, which leaves int64 only past ~8e11 vectors in a
    single cell (≈200 PB of fp32 64-d embeddings); past that the margin
    moves to decimal(38) like the KS gate did.

    Scale shape: every distance computation is corpus × C-row broadcast
    (C=8, config-sized — the whitelisted nested-loop class); the Lloyd
    update is ONE (cell, dim)-key aggregate (C·dim rows); candidate
    probing is an equi-join on the cell id (cost ∝ n_probe/C of the
    corpus per query); the exact baseline rides cosine_topk_batch's
    bucketed one-scan top-k. Nothing quadratic, nothing driver-side."""
    from ..operators import vector
    from ..session import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    corp = emb.select(
        "vec_id", vector.as_double_vec("embedding").alias("_v")
    ).withColumn(
        "_qv", F.transform(F.col("_v"), lambda x: F.floor(x * _IVF_Q).cast("long"))
    )
    seeds = corp.filter(F.col("vec_id") < IVF_GATE_C).select(
        F.col("vec_id").alias("_j"), F.col("_qv").alias("_sv")
    )
    d1 = (
        corp.select("vec_id", "_qv")
        .crossJoin(F.broadcast(seeds))
        .select("vec_id", "_j", _int_sqdist(F.col("_qv"), F.col("_sv")).alias("_d"))
    )
    a1 = (
        d1.groupBy("vec_id")
        .agg(F.min(F.struct("_d", "_j")).alias("_m"))
        .select("vec_id", F.col("_m._j").alias("_c"))
    )
    ex = a1.join(corp.select("vec_id", "_qv"), "vec_id").select(
        "_c", F.posexplode("_qv").alias("_p", "_x")
    )
    cent = (
        ex.groupBy("_c", "_p")
        .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .withColumn("_m", F.expr(f"((_s + _n * {_IVF_OFF}) * {_IVF_Q}) div _n"))
        .groupBy("_c")
        .agg(F.array_sort(F.collect_list(F.struct("_p", "_m"))).alias("_pm"))
        .select("_c", F.transform(F.col("_pm"), lambda s: s["_m"]).alias("_cv"))
    )
    xo = corp.withColumn(
        "_xo", F.transform(F.col("_qv"), lambda v: (v + _IVF_OFF) * _IVF_Q)
    )
    d2 = (
        xo.select("vec_id", "_xo")
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "_c", _int_sqdist(F.col("_xo"), F.col("_cv")).alias("_d"))
    )
    a2 = (
        d2.groupBy("vec_id")
        .agg(F.min(F.struct("_d", "_c")).alias("_m"))
        .select(F.col("vec_id").alias("_cid"), F.col("_m._c").alias("_cell"))
    )
    qs = xo.filter(F.col("vec_id") < IVF_GATE_C)
    qd = (
        qs.select(F.col("vec_id").alias("_qid"), "_xo")
        .crossJoin(F.broadcast(cent))
        .select("_qid", "_c", _int_sqdist(F.col("_xo"), F.col("_cv")).alias("_d"))
    )
    w_probe = Window.partitionBy("_qid").orderBy("_d", "_c")
    probes = (
        qd.withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= IVF_GATE_NPROBE)
        .select("_qid", F.col("_c").alias("_cell"))
    )
    cand = a2.join(F.broadcast(probes), "_cell").filter(
        F.col("_cid") != F.col("_qid")
    )
    qvecs = qs.select(F.col("vec_id").alias("_qid"), F.col("_v").alias("_qvec"))
    scored = (
        cand.join(corp.select(F.col("vec_id").alias("_cid"), "_v"), "_cid")
        .join(F.broadcast(qvecs), "_qid")
        .select(
            "_qid", "_cid", vector.cosine(F.col("_v"), F.col("_qvec")).alias("_cos")
        )
    )
    w_k = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    probe_topk = (
        scored.withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= IVF_GATE_K)
        .select("_qid", "_cid")
    )
    exact = vector.cosine_topk_batch(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") < IVF_GATE_C),
        "vec_id",
        "embedding",
        k=IVF_GATE_K,
    ).select(F.col("qid").alias("_qid"), F.col("vec_id").alias("_cid"))
    hits = probe_topk.join(exact, ["_qid", "_cid"])
    nq = qs.agg(F.count(F.lit(1)).alias("_nq"))
    return (
        hits.agg(F.count(F.lit(1)).alias("_nh"))
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("_nq").cast("long").alias("n_queries"),
            F.col("_nh").cast("long").alias("n_hits"),
            # _nq = 0 only on empty input (ANSI div-by-zero guard; the
            # -1 sentinel mirrors the oracle's CASE exactly)
            F.expr(
                f"CASE WHEN _nq > 0 THEN (_nh * 10000) div (_nq * {IVF_GATE_K})"
                " ELSE -1 END"
            )
            .cast("long")
            .alias("recall_bp"),
            F.expr(
                f"CASE WHEN _nq > 0 AND (_nh * 10000) div (_nq * {IVF_GATE_K})"
                f" >= {IVF_RECALL_MIN_BP} THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("gate_pass"),
        )
    )


#: self-sizing like the Spark side's zip_with fold — no hardcoded dim,
#: so a testdata dimensionality change can never silently truncate
_IVF_DIST = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)

ANN_IVF_GATE_SQL = f"""
WITH corp AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> CAST(floor(x::DOUBLE * {_IVF_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
seeds AS (SELECT vec_id AS j, qv AS sv FROM corp WHERE vec_id < {IVF_GATE_C}),
d1 AS (
  SELECT c.vec_id, s.j,
         {_IVF_DIST.format(a='c.qv', b='s.sv')} AS d
  FROM corp c, seeds s
),
a1 AS (
  SELECT vec_id, j AS c FROM (
    SELECT vec_id, j,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
    FROM d1) WHERE rn = 1
),
sums AS (
  SELECT a1.c, t.i AS p, sum(corp.qv[t.i]) AS s, count(*) AS n
  FROM a1 JOIN corp USING (vec_id)
       CROSS JOIN unnest(range(1, len(corp.qv) + 1)) AS t(i)
  GROUP BY 1, 2
),
cent AS (
  SELECT c, list(((s + n * {_IVF_OFF}) * {_IVF_Q}) // n ORDER BY p) AS cv
  FROM sums GROUP BY c
),
xo AS (
  SELECT vec_id, embedding,
         list_transform(qv, v -> (v + {_IVF_OFF}) * {_IVF_Q}) AS xv
  FROM corp
),
d2 AS (
  SELECT x.vec_id, ct.c,
         {_IVF_DIST.format(a='x.xv', b='ct.cv')} AS d
  FROM xo x, cent ct
),
a2 AS (
  SELECT vec_id AS cid, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d2) WHERE rn = 1
),
probes AS (
  SELECT qid, c AS cell FROM (
    SELECT vec_id AS qid, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d2 WHERE vec_id < {IVF_GATE_C}) WHERE rn <= {IVF_GATE_NPROBE}
),
cand AS (
  SELECT p.qid, a2.cid FROM probes p JOIN a2 USING (cell) WHERE a2.cid != p.qid
),
scoredp AS (
  SELECT cand.qid, cand.cid,
         {_COS_R6.format(a='e.embedding', b='q.embedding')} AS cos
  FROM cand JOIN corp e ON cand.cid = e.vec_id
            JOIN corp q ON cand.qid = q.vec_id
),
probe_topk AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
    FROM scoredp) WHERE rn <= {IVF_GATE_K}
),
exact_scored AS (
  SELECT q.vec_id AS qid, e.vec_id AS cid,
         {_COS_R6.format(a='e.embedding', b='q.embedding')} AS cos
  FROM embeddings e, embeddings q
  WHERE q.vec_id < {IVF_GATE_C} AND e.vec_id != q.vec_id
),
exact_topk AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
    FROM exact_scored) WHERE rn <= {IVF_GATE_K}
),
hits AS (SELECT pt.qid, pt.cid FROM probe_topk pt JOIN exact_topk et
         ON pt.qid = et.qid AND pt.cid = et.cid)
SELECT (SELECT count(*) FROM seeds)::BIGINT AS n_queries,
       count(*)::BIGINT AS n_hits,
       CAST(CASE WHEN (SELECT count(*) FROM seeds) > 0
                 THEN (count(*) * 10000)
                      // ((SELECT count(*) FROM seeds) * {IVF_GATE_K})
                 ELSE -1 END AS BIGINT)
         AS recall_bp,
       CAST(CASE WHEN (SELECT count(*) FROM seeds) > 0
                  AND (count(*) * 10000)
                      // ((SELECT count(*) FROM seeds) * {IVF_GATE_K})
                      >= {IVF_RECALL_MIN_BP} THEN 1 ELSE 0 END AS BIGINT)
         AS gate_pass
FROM hits
"""


# --- reciprocal best match (mutual nearest neighbors) -------------------------

RBM_EVAL_K = 64  #: fixed md5-chosen A-side size at ANY corpus scale


def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor matching — the bitext-mining / cross-split
    alignment primitive: a FIXED-SIZE md5-chosen probe set A is matched
    against the rest of the corpus B; a pair (a, b) survives only if b is
    a's cosine-best in B AND a is b's cosine-best in A. One-directional
    top-1 produces many-to-one false matches; reciprocity is the
    standard filter (Artetxe & Schwenk's margin-based mining keeps the
    same mutual skeleton).

    Exactness: both argmaxes tiebreak by id ascending; the emitted
    cosine is floor(cos·1e6) — double cosine fold order is engine-
    identical (the proven sim/knn pattern), floor portable.

    Scale shape: a's best-in-B rides cosine_topk_batch (ONE corpus scan,
    broadcast 64-query batch, bucketed partial top-k); b's best-in-A is
    computed ONLY for the ≤64 winning b's (equi-join pulls their
    vectors, then a 64×64 broadcast cross) — never corpus×A. Output is
    ≤64 rows."""
    from ..operators import dedup, vector
    from ..session import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    a_side = (
        emb.withColumn(
            "_h",
            dedup.md5_int(F.concat(F.col("vec_id").cast("string"), F.lit("rbm"))),
        )
        .sort("_h", "vec_id")
        .limit(RBM_EVAL_K)
        .drop("_h")
    )
    a_ids = a_side.select("vec_id")
    b_side = emb.join(F.broadcast(a_ids), "vec_id", "left_anti")
    best_b = vector.cosine_topk_batch(
        b_side, "vec_id", "embedding", a_side, "vec_id", "embedding", k=1
    ).select(
        F.col("qid").alias("a_id"),
        F.col("vec_id").alias("b_id"),
        F.col("cosine").alias("_cos_ab"),
    )
    # pull the <=64 winning b vectors (equi-join), cross them with the
    # broadcast A batch, and take each b's best a
    b_vecs = best_b.select("b_id").join(
        b_side.select(F.col("vec_id").alias("b_id"), "embedding"), "b_id"
    ).select("b_id", vector.as_double_vec("embedding").alias("_bv"))
    a_vecs = a_side.select(
        F.col("vec_id").alias("_aid"), vector.as_double_vec("embedding").alias("_av")
    )
    back = b_vecs.crossJoin(F.broadcast(a_vecs)).select(
        "b_id", "_aid", vector.cosine(F.col("_bv"), F.col("_av")).alias("_cos")
    )
    w_back = Window.partitionBy("b_id").orderBy(F.desc("_cos"), F.asc("_aid"))
    best_a = (
        back.withColumn("_rn", F.row_number().over(w_back))
        .filter(F.col("_rn") == 1)
        .select("b_id", F.col("_aid").alias("a_id"))
    )
    mutual = best_b.join(best_a, ["a_id", "b_id"])
    # a-labels ride the (already <=64-row) A batch; b-labels attach by
    # streaming the column-pruned corpus ONCE against the broadcast
    # mutual frame — the expensive topk subtree is never recomputed
    a_lab = a_side.select(F.col("vec_id").alias("a_id"), F.col("label").alias("_al"))
    b_lab = emb.select(F.col("vec_id").alias("b_id"), F.col("label").alias("_bl"))
    m_lab = mutual.join(F.broadcast(a_lab), "a_id")
    return b_lab.join(F.broadcast(m_lab), "b_id").select(
        "a_id",
        "b_id",
        F.floor(F.col("_cos_ab") * 1000000).cast("long").alias("cos_e6"),
        # F.when mirrors the oracle's CASE exactly: NULL labels -> 0,
        # never NULL (a bare == comparison would propagate NULL)
        F.when(F.col("_al") == F.col("_bl"), 1)
        .otherwise(0)
        .cast("long")
        .alias("same_label"),
    )


RBM_SQL = f"""
WITH a_side AS (
  SELECT vec_id, embedding, label
  FROM embeddings
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || 'rbm'), 1, 8))::BIGINT, vec_id
  LIMIT {RBM_EVAL_K}
),
b_side AS (
  SELECT e.vec_id, e.embedding, e.label FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM a_side)
),
fwd AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         {_COS_R6.format(a='b.embedding', b='a.embedding')} AS cos
  FROM a_side a, b_side b
),
best_b AS (
  SELECT a_id, b_id, cos FROM (
    SELECT a_id, b_id, cos,
           row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rn
    FROM fwd) WHERE rn = 1
),
back AS (
  SELECT bb.b_id, a.vec_id AS a_id,
         {_COS_R6.format(a='b.embedding', b='a.embedding')} AS cos
  FROM (SELECT DISTINCT b_id FROM best_b) bb
       JOIN b_side b ON bb.b_id = b.vec_id
       CROSS JOIN a_side a
),
best_a AS (
  SELECT b_id, a_id FROM (
    SELECT b_id, a_id,
           row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS rn
    FROM back) WHERE rn = 1
)
SELECT bb.a_id, bb.b_id,
       CAST(floor(bb.cos * 1000000) AS BIGINT) AS cos_e6,
       CAST(CASE WHEN al.label = bl.label THEN 1 ELSE 0 END AS BIGINT) AS same_label
FROM best_b bb
JOIN best_a ba ON bb.a_id = ba.a_id AND bb.b_id = ba.b_id
JOIN embeddings al ON bb.a_id = al.vec_id
JOIN embeddings bl ON bb.b_id = bl.vec_id
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
    from ..operators import dedup

    u = dedup.md5_int(
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
    from ..operators import dedup, sampling

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "event_type",
        cents("value").alias("_v"),
        sampling.hash_bucket(F.col("user_id"), "conf", 4).alias("_b"),
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


# --- half-life-decayed user value ---------------------------------------------

DECAY_HALF_LIFE_DAYS = 30
DECAY_MAX_SHIFT = 40   #: cap the exponent; cents < 2^40 so older mass is 0 anyway
DECAY_TOP_N = 50


def halflife_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value with a power-of-two half-life: each
    purchase contributes value·2^(−⌊age/half_life⌋) cents, anchored at
    the corpus's max event date — the recency scoring behind churn /
    LTV-decay ranking (ewma_user_value smooths per-event sequences; this
    is the calendar-anchored absolute form every CRM export uses).

    Exactness: the decay is an integer right-shift — contribution =
    v div (1 << e), e = min(age div H, 40) — no pow(), no floats
    anywhere; per-event integer contributions sum exactly in any order.
    Negative and NULL values are excluded in BOTH engines up front:
    integer division is kept on non-negative operands by the house
    portability contract (measured r9: both engines truncate toward
    zero, so they in fact agree on negatives — but the guard stays:
    truncation of negative quotients is a semantic trap regardless),
    so the non-negativity contract is ENFORCED by filter rather than
    assumed from the generator.

    Scale shape: anchor is a 1-row broadcast; decay is map-side; one
    per-user aggregate; the top-N is a distributed sort-limit
    (TakeOrdered — partial top-N per partition, never a global sort)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 0)
    )
    base = ev.select(
        "user_id", F.to_date("ts").alias("_d"), cents("value").alias("_v")
    )
    anchor = base.agg(F.max("_d").alias("_anchor"))
    dec = (
        base.crossJoin(F.broadcast(anchor))
        .withColumn(
            "_e",
            F.least(
                F.expr(f"datediff(_anchor, _d) div {DECAY_HALF_LIFE_DAYS}"),
                F.lit(DECAY_MAX_SHIFT),
            ).cast("int"),
        )
        .withColumn(
            "_dv", F.expr("_v div shiftleft(CAST(1 AS BIGINT), _e)").cast("long")
        )
    )
    out = dec.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_v").cast("long").alias("raw_cents"),
        F.sum("_dv").cast("long").alias("decayed_cents"),
    )
    return out.orderBy(F.desc("decayed_cents"), F.asc("user_id")).limit(DECAY_TOP_N)


HALFLIFE_DECAY_SQL = f"""
WITH base AS (
  SELECT user_id, ts::DATE AS d, {CENTS_SQL.format(x="value")} AS v
  FROM events WHERE event_type = 'purchase' AND value >= 0
),
anchor AS (SELECT max(d) AS a FROM base),
dec AS (
  SELECT user_id, v,
         v // (1::BIGINT << least((a - d) // {DECAY_HALF_LIFE_DAYS},
                                  {DECAY_MAX_SHIFT})) AS dv
  FROM base, anchor
)
SELECT user_id,
       count(*)::BIGINT AS n_events,
       CAST(sum(v) AS BIGINT) AS raw_cents,
       CAST(sum(dv) AS BIGINT) AS decayed_cents
FROM dec GROUP BY 1
ORDER BY decayed_cents DESC, user_id ASC
LIMIT {DECAY_TOP_N}
"""


# --- inverse-frequency class weights ------------------------------------------

CLASS_WEIGHT_CAP_PPM = 10_000_000  #: cap at 10x (guards tiny classes)


def class_weight_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language inverse-frequency loss weights for the document
    corpus — sklearn's "balanced" formula w_c = N/(K·n_c) in exact ppm
    integer form, capped at 10× so a near-empty class can't dominate the
    loss. The loss-side counterpart of the sampling-side mixture ops
    (mixture_epoch_plan / quota_largest_remainder reweight what's DRAWN;
    this reweights what's PENALIZED).

    Exactness: weights are (N·1e6) div (K·n_c) — non-negative integer
    division; share in basis points likewise.

    Scale shape: one groupBy to the |langs|-row frame; totals attach via
    an unpartitioned window over that domain-bounded frame (the house
    bounded-aggregate-window form) — the corpus shuffles once."""
    from ..session import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = per.withColumn("_tot", F.sum("_n").over(w_all)).withColumn(
        "_k", F.count(F.lit(1)).over(w_all)
    )
    return tot.select(
        "lang",
        F.col("_n").cast("long").alias("n_docs"),
        F.expr("(_n * 10000) div _tot").cast("long").alias("share_bp"),
        F.expr("(_tot * 1000000) div (_k * _n)").cast("long").alias("weight_ppm"),
        F.least(
            F.expr("(_tot * 1000000) div (_k * _n)"), F.lit(CLASS_WEIGHT_CAP_PPM)
        )
        .cast("long")
        .alias("capped_ppm"),
    )


CLASS_WEIGHT_SQL = f"""
WITH per AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
tot AS (
  SELECT lang, n, sum(n) OVER () AS t, count(*) OVER () AS k FROM per
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST((n * 10000) // t AS BIGINT) AS share_bp,
       CAST((t * 1000000) // (k * n) AS BIGINT) AS weight_ppm,
       CAST(least((t * 1000000) // (k * n), {CLASS_WEIGHT_CAP_PPM}) AS BIGINT)
         AS capped_ppm
FROM tot
"""
