"""Time-series / semi-structured / skew-handling query pairs:

- as-of join (union-and-carry implementation vs DuckDB's native ASOF JOIN)
- JSON property extraction from the events props column (§2.12 JSON)
- salted two-phase aggregation and replicated-salted join — results must
  be EXACTLY the plain groupBy/join (only the shuffle distribution
  differs), which is precisely what the oracle asserts.
- daily-series diagnostics over one shared daily revenue builder each for
  purchases and orders: ACF, Theil-Sen, CUSUM, changepoint, Mann-Kendall,
  runs test, Durbin-Watson.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import derive, rangejoin, sessionize
from ..operators.asof import asof_join
from ..operators.derive import CENTS_SQL, cents
from ..operators.skew import replicated_salted_join, salted_aggregate
from ..session import load_table


def asof_signup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase attributed to the user's latest prior-or-equal signup.
    Linear union-and-carry plan — one shuffle on user_id, no range-join
    explosion."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, signups, on="ts", by=["user_id"], right_payload=["value"]
    )
    # carry the signup ts too: payload trick on the ts column itself
    joined_ts = asof_join(
        purchases,
        signups.select("user_id", "ts", F.col("ts").alias("signup_ts")),
        on="ts",
        by=["user_id"],
        right_payload=["signup_ts"],
    ).select("event_id", F.col("signup_ts_asof"))
    return (
        joined.select("event_id", "user_id", F.round("value_asof", 2).alias("signup_value"))
        .join(joined_ts, "event_id")
        .select(
            "event_id",
            "user_id",
            F.date_format("signup_ts_asof", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
            "signup_value",
        )
    )


ASOF_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     s AS (SELECT * FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       round(s.value, 2) AS signup_value
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
"""


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column, typed, aggregated."""
    ev = load_table(spark, sf_dir, "events")
    # try_cast: a malformed or non-numeric k (guaranteed in real-world
    # JSON) yields NULL instead of an ANSI NumberFormatException
    # (unicode-sweep class); the oracle mirrors with TRY_CAST
    k = F.expr("try_cast(get_json_object(props, '$.k') AS long)")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type,
       sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
FROM events
GROUP BY event_type
"""


def salted_agg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation ≡ plain groupBy (the oracle IS the
    plain groupBy — salting must not change results)."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        keys=["user_id"],
        aggs={
            "n_events": ("count", "event_id"),
            "total_value": ("sum", "value"),
            "max_value": ("max", "value"),
        },
        salt_buckets=8,
        salt_source="event_id",
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.round("max_value", 2).alias("max_value"),
    )


SALTED_AGG_SQL = """
SELECT user_id, count(event_id) AS n_events,
       round(sum(value), 2) AS total_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY user_id
"""


def salted_join_events_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-salted equi join ≡ the plain join, row for row."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = replicated_salted_join(ev, dim, key="user_id", salt_buckets=8)
    return joined.select("event_id", "user_id", "c_mktsegment")


SALTED_JOIN_SQL = """
SELECT event_id, user_id, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (6h gap) + per-session stats.
    One shuffle on user_id; both windows and the final groupBy share it."""
    ev = load_table(spark, sf_dir, "events")
    stats = sessionize.session_stats(
        ev, "ts", by=["user_id"], gap_seconds=21600, value_col="value",
        tiebreak=["event_id"],
    )
    return stats.select(
        "user_id",
        "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        derive.portable_round(F.col("sum_value"), 2).alias("sum_value"),
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 21600 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, value,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')  AS session_start,
       count(*)                                AS n_events,
       floor(sum(value) * 100 + 0.5) / 100     AS sum_value
FROM sessioned
GROUP BY user_id, session_seq
"""


def range_join_error_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with an equi key: purchases of the SAME user within
    one hour after each error event. The equi key (user_id) carries the
    shuffle; the time-range predicate is a post-join filter — co-
    partitioned, no replication, scales with the key cardinality."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("error_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = rangejoin.interval_join(
        purchases, errors, "purchase_ts", "error_ts", "error_end", by=["user_id"]
    )
    return joined.select(
        "user_id", "error_id", "purchase_id",
        derive.portable_round(F.col("value"), 2).alias("purchase_value"),
    )


RANGE_JOIN_SQL = """
SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id,
       floor(p.value * 100 + 0.5) / 100 AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 1 HOUR
"""


# config-sized band dimension: [lo, hi) purchase-value bands
_VALUE_BANDS = [
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 150.0),
    ("large", 150.0, 1000000.0),
]


def band_join_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-dimension range join: classify purchase values into literal
    [lo, hi) bands. The band table is broadcast; the plan is a
    BroadcastNestedLoopJoin streaming the facts — zero fact shuffle."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    bands = spark.createDataFrame(_VALUE_BANDS, ["band", "lo", "hi"])
    joined = rangejoin.band_join(purchases, "value", bands)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        derive.portable_round(F.sum("value"), 2).alias("sum_value"),
    )


BAND_JOIN_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('micro', 0.0, 10.0), ('small', 10.0, 50.0),
         ('medium', 50.0, 150.0), ('large', 150.0, 1000000.0)
)
SELECT band, count(*) AS n_purchases,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
WHERE event_type = 'purchase'
GROUP BY band
"""


def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rolling 1-hour sum/count per user — a RANGE frame over
    ``unix_micros(ts)`` so the window is exact event-time (identical to
    an INTERVAL frame), not row-count. Partitioned on user_id: one
    shuffle, per-key frames, no global order anywhere."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        derive.portable_round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


ROLLING_SQL = """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       floor(sum(value) OVER w * 100 + 0.5) / 100 AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def lead_gap_to_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() per user: exact microseconds until the user's next event
    (null on their last). Integer microsecond arithmetic on both engines
    — no float/interval comparison ambiguity."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("micros_to_next"),
    )


LEAD_GAP_SQL = """
SELECT event_id, user_id,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         - epoch_us(ts) AS micros_to_next
FROM events
"""


def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per day — THE 100 TB cardinality
    operator (constant memory per group, partial-merge friendly, no
    distinct shuffle). No SQL oracle: sketch estimates are
    engine-specific; the error bound vs exact is pinned by unit test."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def approx_distinct_users_daily_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable gate for the HLL operator: the sketch estimate
    itself is engine-specific (no SQL oracle can reproduce it), so this
    variant emits the EXACT per-day distinct count plus a boolean asserting
    the HLL estimate lands within the pinned 5% bound — the oracle asserts
    the exact columns and TRUE. The production operator remains
    :func:`approx_distinct_users_daily` (no exact distinct — that is the
    whole point at 100 TB); this gate exists to turn the sketch's accuracy
    contract into a hard external CORRECTNESS row."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("_hll"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bound = F.greatest(F.lit(1.0), F.lit(0.05) * F.col("exact_users"))
    return agg.select(
        "day",
        "exact_users",
        "n_events",
        (F.abs(F.col("_hll") - F.col("exact_users")) <= bound).alias("hll_within_5pct"),
    )


APPROX_DISTINCT_GATE_SQL = """
SELECT ts::DATE AS day, count(DISTINCT user_id) AS exact_users,
       count(*) AS n_events, TRUE AS hll_within_5pct
FROM events GROUP BY 1
"""


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: per-user daily activity densified over
    each user's [first_day, last_day] span (missing days exist with zero
    events — the precondition for any rolling/interpolation pass), then
    summarized per user.

    Scale shape: daily counts are ONE shuffle on (user, day); the spine is
    a per-user ``sequence`` explode of the user's own bounds (span-bounded
    fan-out, no global calendar cross join); spine⋈daily co-partitions on
    the same (user, day) key. Cost tracks Σ per-user spans, never
    |users| × |global calendar|.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("_lo", "_hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    filled = spine.join(daily, ["user_id", "day"], "left").withColumn(
        "n_events", F.coalesce(F.col("n_events"), F.lit(0))
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("n_events") == 0, 1).otherwise(0)).cast("long").alias("n_gap_days"),
        F.sum("n_events").cast("long").alias("total_events"),
    )


GAP_FILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
filled AS (
  SELECT s.user_id, s.day, coalesce(d.n_events, 0) AS n_events
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id,
       count(*)::BIGINT AS n_days,
       sum(CASE WHEN n_events = 0 THEN 1 ELSE 0 END)::BIGINT AS n_gap_days,
       sum(n_events)::BIGINT AS total_events
FROM filled
GROUP BY user_id
"""


def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): one row per
    stage with the number of users who reached it IN ORDER (each stage's
    first occurrence strictly after the previous stage's).

    Scale shape: one shuffle on user_id — the per-user stage timestamps
    are conditional min aggregates of a single groupBy; the funnel logic
    is then pure row arithmetic on one row per user, and the final stage
    explode is constant-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.unix_micros("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("t_buy"),
    )
    # strict event-time ordering: a click counts only after the first
    # view, a purchase only after that click
    reached = per_user.select(
        F.col("t_view").isNotNull().alias("s1"),
        (F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))).alias("s2"),
        (
            F.col("t_view").isNotNull()
            & (F.col("t_click") > F.col("t_view"))
            & (F.col("t_buy") > F.col("t_click"))
        ).alias("s3"),
    )
    agg = reached.agg(
        F.sum(F.when(F.col("s1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("s2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("s3"), 1).otherwise(0)).cast("long").alias("n3"),
    )
    stages = [("view", "n1"), ("view_click", "n2"), ("view_click_purchase", "n3")]
    return agg.select(
        F.posexplode(
            F.array(
                *[F.struct(F.lit(s).alias("stage"), F.col(c).alias("n_users")) for s, c in stages]
            )
        ).alias("stage_no", "_s")
    ).select(
        F.col("stage_no").cast("int").alias("stage_no"),
        F.col("_s.stage").alias("stage"),
        F.col("_s.n_users").alias("n_users"),
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)     AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)    AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
  FROM events GROUP BY user_id
),
reached AS (
  SELECT t_view IS NOT NULL AS s1,
         t_view IS NOT NULL AND t_click > t_view AS s2,
         t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click AS s3
  FROM per_user
),
agg AS (
  SELECT sum(CASE WHEN s1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN s2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         sum(CASE WHEN s3 THEN 1 ELSE 0 END)::BIGINT AS n3
  FROM reached
)
SELECT t.stage_no, t.stage, t.n_users
FROM agg, LATERAL (VALUES
  (0, 'view', n1), (1, 'view_click', n2), (2, 'view_click_purchase', n3)
) t(stage_no, stage, n_users)
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by signup week; for each
    (cohort week, weeks-since-signup offset) the count of cohort members
    active in that week. The canonical dashboard retention triangle.

    Scale shape: signup table is one filtered aggregate (shuffle on
    user); the activity join shuffles on user_id once; the final
    (cohort, offset) aggregate is triangle-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    joined = signup.join(activity, "user_id").filter(
        F.col("active_week") >= F.col("cohort_week")
    )
    return (
        joined.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            ((F.unix_micros(F.col("active_week")) - F.unix_micros(F.col("cohort_week")))
             / F.lit(7 * 24 * 3600 * 1_000_000)).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


RETENTION_SQL = """
WITH signup AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT strftime(s.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST((epoch_us(a.active_week) - epoch_us(s.cohort_week))
            // 604800000000::BIGINT AS INT) AS week_offset,
       count(DISTINCT s.user_id)::BIGINT AS n_active
FROM signup s JOIN activity a USING (user_id)
WHERE a.active_week >= s.cohort_week
GROUP BY 1, 2
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: counts of consecutive (event_type → next_event_type)
    transitions within each user's event stream — the Markov-chain view
    behind 'what do users do after X' dashboards.

    One shuffle on user_id (the lead window); the final aggregate is
    |event_types|² rows. Deterministic ordering via the event_id tiebreak.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )


TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
FROM pairs WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


def interpolate_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over each user's daily value series: days
    with no events get the straight line between the nearest known
    days (ends stay null). The classic time-series repair pass.

    Plan: daily sums (one shuffle on user+day), per-user calendar spine
    (sequence explode of the user's own bounds), then TWO ignore-null
    window carries (last-known-before, first-known-after) over ONE
    partitioned sort each direction — never a self-join against the
    known-points set. Integer day arithmetic; float only in the final
    lerp."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("user_id", "day").agg(F.sum("value").alias("v"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    grid = spine.join(daily, ["user_id", "day"], "left")
    w_past = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_future = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(w_past)
    prev_d = F.last(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True).over(w_past)
    next_v = F.first("v", ignorenulls=True).over(w_future)
    next_d = F.first(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True).over(
        w_future
    )
    frac = F.datediff(F.col("day"), prev_d) / F.datediff(next_d, prev_d)
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return grid.select(
        "user_id",
        "day",
        F.col("v").isNotNull().alias("observed"),
        F.round(interp, 4).alias("value"),
    )


INTERPOLATE_SQL = """
WITH daily AS (
  SELECT user_id, ts::DATE AS day, sum(value) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
grid AS (
  SELECT s.user_id, s.day, d.v
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
),
carried AS (
  SELECT user_id, day, v,
         last_value(v IGNORE NULLS) OVER wp AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS prev_d,
         first_value(v IGNORE NULLS) OVER wf AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS next_d
  FROM grid
  WINDOW wp AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day, v IS NOT NULL AS observed,
       round(CASE WHEN v IS NOT NULL THEN v
                  ELSE prev_v + (next_v - prev_v)
                       * (date_diff('day', prev_d, day)::DOUBLE
                          / date_diff('day', prev_d, next_d))
             END, 4) AS value
FROM carried
"""


def bloom_filtered_events_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: events ⋈ a selective customer slice
    (one market segment), with a broadcast Bloom bitmap of the dim keys
    pre-filtering events map-side BEFORE the join. Result ≡ the plain
    join (the exact join removes Bloom false positives), which is
    exactly what the oracle checks; the payoff at 100 TB is that the
    fact's shuffle input shrinks to ~the dim's selectivity instead of
    materializing every event row into the exchange.
    See operators.bloom (sizing math in the module docstring)."""
    from ..operators import bloom

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    pre = bloom.bloom_prefilter(ev, "user_id", dim, "user_id")
    return (
        pre.join(dim, "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            derive.portable_round(F.sum("value"), 2).alias("sum_value"),
        )
    )


BLOOM_JOIN_SQL = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events
JOIN customer ON user_id = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY c_nationkey
"""


def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per event_type per hour, open/high/low/close of
    ``value`` plus count and sum — the canonical time-bar rollup.

    One shuffle (the groupBy), open/close via ``min_by``/``max_by`` on a
    zero-padded (epoch-micros, event_id) STRING order key: struct ordering
    isn't portable to every engine's arg_min, a fixed-width string is —
    and the tie-break on event_id makes the bars deterministic even with
    colliding timestamps."""
    ev = load_table(spark, sf_dir, "events")
    okey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.withColumn("_ok", okey)
        .groupBy(
            F.col("event_type"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        )
        .agg(
            F.min_by("value", F.col("_ok")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("_ok")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            derive.portable_round(F.sum("value"), 2).alias("sum_value"),
        )
    )


OHLC_SQL = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start,
       arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close,
       count(*) AS n_events,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY 1, 2
"""


def ts_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (EDBT'19-style): find the 20 user
    subsequences of length 8 whose z-normalized shape best matches a
    literal query pattern (a spike: low-low-low-high-high-low-low-low).

    Plan shape: ONE shuffle (user_id window) builds each position's
    next-8 value array via a frame-bounded collect_list; the distance is
    a pure array expression (normalize window, squared distance to the
    normalized pattern); global top-k is a sort-limit (partial per
    partition). No self-join, no per-candidate pass — cost is linear in
    the event count.
    """
    pattern = [1.0, 1.0, 1.0, 8.0, 8.0, 1.0, 1.0, 1.0]
    p_mean = sum(pattern) / len(pattern)
    p_var = sum((x - p_mean) ** 2 for x in pattern) / len(pattern)
    p_norm = [(x - p_mean) / (p_var ** 0.5) for x in pattern]

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(0, 7)
    )
    win = F.collect_list(F.col("value")).over(w)
    df = ev.select("user_id", "event_id", win.alias("_w")).filter(F.size("_w") == 8)
    n = F.lit(8.0)
    mean = F.aggregate("_w", F.lit(0.0), lambda a, x: a + x) / n
    var = F.aggregate("_w", F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean)) / n
    # constant series carry no shape: exclude zero-variance windows
    df = df.withColumn("_m", mean).withColumn("_v", var).filter(F.col("_v") > 0)
    znorm = F.transform("_w", lambda x: (x - F.col("_m")) / F.sqrt(F.col("_v")))
    pat = F.array(*[F.lit(x) for x in p_norm])
    dist = F.aggregate(
        F.zip_with(znorm, pat, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.select(
            "user_id",
            F.col("event_id").alias("start_event_id"),
            derive.portable_round(dist, 4).alias("dist"),
            dist.alias("_d"),
        )
        .orderBy(F.asc("_d"), F.asc("user_id"), F.asc("start_event_id"))
        .limit(20)
        .drop("_d")
    )


TS_PATTERN_SQL = """
WITH pat AS (
  SELECT [(x - 2.75) / sqrt(list_sum(list_transform([1.0,1.0,1.0,8.0,8.0,1.0,1.0,1.0],
            y -> (y - 2.75) * (y - 2.75))) / 8.0) FOR x IN [1.0,1.0,1.0,8.0,8.0,1.0,1.0,1.0]] AS p
),
win AS (
  SELECT user_id, event_id AS start_event_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS w
  FROM events
),
stats AS (
  SELECT user_id, start_event_id, w,
         list_sum(w) / 8.0 AS m,
         list_sum(list_transform(w, x -> (x - list_sum(w) / 8.0) * (x - list_sum(w) / 8.0))) / 8.0 AS v
  FROM win WHERE len(w) = 8
),
scored AS (
  SELECT user_id, start_event_id,
         list_sum(list_transform(range(1, 9),
           i -> ((w[i] - m) / sqrt(v) - p[i]) * ((w[i] - m) / sqrt(v) - p[i]))) AS d
  FROM stats, pat WHERE v > 0
)
SELECT user_id, start_event_id, floor(d * 10000 + 0.5) / 10000 AS dist
FROM scored
ORDER BY d ASC, user_id ASC, start_event_id ASC
LIMIT 20
"""


def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DISTINCT active users per day — the metric a plain
    range-frame can't express (COUNT(DISTINCT) doesn't compose over
    window frames).

    Two-level plan: (1) one shuffle collapses events to one row per DAY
    carrying that day's user SET (collect_set — bounded by daily actives);
    (2) a 7-row window unions and re-distincts the sets. The window is
    global-ordered but runs on a DAYS-sized table (three orders of
    magnitude smaller than events at any corpus scale), so the single
    task it serializes through holds days, never events. At extreme user
    cardinality swap the exact sets for KMV sketches (operators/dedup.py)
    — same two-level shape.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("_d")).agg(
        F.collect_set("user_id").alias("_users")
    )
    w = Window.orderBy("_d").rowsBetween(-6, 0)
    return daily.select(
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.size("_users").cast("long").alias("n_users_1d"),
        F.size(F.array_distinct(F.flatten(F.collect_list("_users").over(w))))
        .cast("long")
        .alias("n_users_7d"),
    )


ROLLING_7D_DISTINCT_SQL = """
WITH d AS (
  SELECT date_trunc('day', ts) AS dd, list(DISTINCT user_id) AS users
  FROM events GROUP BY 1
)
SELECT strftime(dd, '%Y-%m-%d') AS day,
       len(users) AS n_users_1d,
       len(list_distinct(flatten(
         list(users) OVER (ORDER BY dd ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       ))) AS n_users_7d
FROM d
"""


def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-SESSION ordered funnel: per user, how many 6h-gap sessions
    contain a purchase AT OR AFTER the session's first view — the
    composition of gap sessionization and the conditional-min funnel
    (event_funnel_conversion ranges over a user's whole history; this
    variant resets at every session boundary, which is how product
    funnels are actually reported).

    One user-keyed shuffle feeds everything: the session window, the
    first-view window (same partitioning — no second exchange), the
    per-session aggregate, and the per-user rollup."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize.sessionize(
        ev, "ts", by=["user_id"], gap_seconds=21600, tiebreak=["event_id"]
    )
    fw = Window.partitionBy("user_id", "session_seq")
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(fw)
    flagged = sess.withColumn("_fv", first_view)
    per = flagged.groupBy("user_id", "session_seq").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("_hv"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("_fv").isNotNull()
                & (F.col("ts") >= F.col("_fv")),
                1,
            ).otherwise(0)
        ).alias("_conv"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("_hv").cast("long").alias("n_view_sessions"),
        F.sum("_conv").cast("long").alias("n_converted"),
        derive.portable_round(
            F.sum("_conv") / F.greatest(F.sum("_hv"), F.lit(1)).cast("double"), 4
        ).alias("view_conversion"),
    )


SESSION_FUNNEL_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 21600 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, event_type,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM flagged
),
pv AS (
  SELECT user_id, session_seq, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id, session_seq) AS fv
  FROM sessioned
),
per AS (
  SELECT user_id, session_seq,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
         max(CASE WHEN event_type = 'purchase' AND fv IS NOT NULL AND ts >= fv
                  THEN 1 ELSE 0 END) AS conv
  FROM pv GROUP BY 1, 2
)
SELECT user_id,
       count(*)::BIGINT AS n_sessions,
       sum(hv)::BIGINT AS n_view_sessions,
       sum(conv)::BIGINT AS n_converted,
       floor(sum(conv) / greatest(sum(hv), 1)::DOUBLE * 10000 + 0.5) / 10000
         AS view_conversion
FROM per GROUP BY 1
"""


def seasonal_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal/trend decomposition of the daily value series
    (the moving-average core of STL): trend = centered 7-row moving
    average, seasonal = mean detrended value per day-of-week, residual =
    the rest. Days without a full 7-row window are dropped (no trend).

    Exactness design: daily totals are integer CENTS; the 7-row sum and
    the detrended values ``7·cents − sum7`` stay integers; the per-dow
    seasonal mean is one integer-ratio division — so every emitted float
    is a single correctly-rounded IEEE op on exact integers, identical
    in any engine (no float accumulation anywhere).

    Scale shape: one day-keyed aggregate off the scan; every window and
    join after it runs on the DAY-level table — bounded by the calendar,
    not the corpus (the same provably-reduced-set argument as the other
    day-grain windows). The 7-row window is row-based over observed days
    on BOTH sides (identical semantics even if the calendar has holes)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
        ).alias("_cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    full7 = (
        daily.select(
            "day",
            "_cents",
            F.sum("_cents").over(w).alias("_sum7"),
            F.count(F.lit(1)).over(w).alias("_n7"),
        )
        .filter(F.col("_n7") == 7)
        .withColumn("_dow", F.dayofweek("day") - 1)
    )
    seas = full7.groupBy("_dow").agg(
        F.sum(F.col("_cents") * 7 - F.col("_sum7")).alias("_sd"),
        F.count(F.lit(1)).alias("_nd"),
    )
    seasonal = F.col("_sd") / (F.col("_nd") * 700.0)
    return full7.join(F.broadcast(seas), "_dow").select(
        "day",
        derive.portable_round(F.col("_cents") / 100.0, 4).alias("value"),
        derive.portable_round(F.col("_sum7") / 700.0, 4).alias("trend"),
        derive.portable_round(seasonal, 4).alias("seasonal"),
        derive.portable_round(
            (F.col("_cents") * 7 - F.col("_sum7")) / 700.0 - seasonal, 4
        ).alias("residual"),
    )


SEASONAL_DECOMPOSE_SQL = """
WITH daily AS (
  SELECT ts::DATE AS day,
         sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT))::BIGINT AS cents
  FROM events GROUP BY 1
),
win AS (
  SELECT day, cents,
         sum(cents) OVER w AS sum7,
         count(*) OVER w AS n7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full7 AS (
  SELECT day, cents, sum7, extract(dow FROM day)::INT AS dow
  FROM win WHERE n7 = 7
),
seas AS (
  SELECT dow, sum(cents * 7 - sum7)::BIGINT AS sd, count(*)::BIGINT AS nd
  FROM full7 GROUP BY 1
)
SELECT day,
       floor(cents / 100.0 * 10000 + 0.5) / 10000 AS value,
       floor(sum7 / 700.0 * 10000 + 0.5) / 10000 AS trend,
       floor(sd / (nd * 700.0) * 10000 + 0.5) / 10000 AS seasonal,
       floor(((cents * 7 - sum7) / 700.0 - sd / (nd * 700.0)) * 10000 + 0.5) / 10000
         AS residual
FROM full7 JOIN seas USING (dow)
"""


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decay-weighted user feature: exponentially-weighted moving average
    (α=1/2) of each user's last 16 event values — the classic recency
    feature an online model consumes (recent behavior dominates, old
    behavior decays geometrically).

    Exactness design: α=1/2 makes every weight a power of two, so the
    weighted sum is ``Σ cents·2^(16−rank)`` — pure BIGINT shifts — and
    the normalizer ``2^16 − 2^(16−n)`` is exact for any history length
    n ≤ 16. The ONE float op is the final division. No float powers, no
    float accumulation, bit-identical in any engine.

    Scale shape: one user-keyed shuffle feeds both the recency window
    and the final aggregate (same key, exchange reused)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
            .cast("long")
            .alias("_cents"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 16)
    )
    agg = recent.groupBy("user_id").agg(
        F.sum(F.col("_cents") * F.expr("shiftleft(1L, 16 - _rn)")).alias("_sw"),
        F.count(F.lit(1)).cast("long").alias("n_events_used"),
    )
    denom = F.expr("shiftleft(1L, 16) - shiftleft(1L, 16 - cast(n_events_used AS INT))")
    return agg.select(
        "user_id",
        "n_events_used",
        derive.portable_round(F.col("_sw") / (denom * 100.0), 4).alias("ewma_value"),
    )


EWMA_SQL = """
WITH recent AS (
  SELECT user_id,
         CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
agg AS (
  SELECT user_id,
         sum(cents * (1::BIGINT << (16 - rn)))::BIGINT AS sw,
         count(*)::BIGINT AS n_events_used
  FROM recent WHERE rn <= 16
  GROUP BY 1
)
SELECT user_id, n_events_used,
       floor(sw / (((1::BIGINT << 16) - (1::BIGINT << (16 - n_events_used::INT))) * 100.0)
             * 10000 + 0.5) / 10000 AS ewma_value
FROM agg
"""


def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analytics: deterministic 50/50 user split (hash
    wheel), conversion = the user made at least one purchase above 150
    (≈45% convert on this data, so the statistic is genuinely
    non-degenerate), and the two-proportion pooled z-statistic for the
    arm difference — the readout every A/B platform computes.

    Exactness: all inputs are integer counts; rates, the pooled
    variance, and the z-score compose from correctly-rounded IEEE
    divisions and one sqrt, written with the identical expression shape
    on both sides — no accumulation, no transcendental beyond sqrt
    (correctly rounded in every engine).

    Scale shape: one user-keyed aggregate off the scan, then a single
    global roll-up of per-user 0/1 flags (two-phase, map-side partials);
    the output is ONE row regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
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
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    # guards: an empty arm or a degenerate pooled rate (0 or 1) has no
    # defined z — emit NULL, identically on both sides (ANSI division)
    rate_diff = F.when(both, p_a - p_b)
    z = F.when(both & (F.when(both, var) > 0), (p_a - p_b) / F.sqrt(var))
    return stats.select(
        "n_a", "conv_a", "n_b", "conv_b",
        derive.portable_round(rate_diff, 6).alias("rate_diff"),
        derive.portable_round(z, 4).alias("zscore"),
    )


AB_TEST_SQL = """
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv,
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
)
SELECT n_a, conv_a, n_b, conv_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN floor((conv_a / n_a - conv_b / n_b) * 1000000 + 0.5) / 1000000
       END AS rate_diff,
       CASE WHEN var > 0
            THEN floor((conv_a / n_a - conv_b / n_b) / sqrt(var) * 10000 + 0.5) / 10000
       END AS zscore
FROM g
"""


def late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit — the measurement that SIZES a
    streaming watermark: treating event_id as arrival order, how far
    behind each user's running event-time high-water mark do events
    arrive? Per event type: how many arrive out of order, the worst and
    total lateness (exact integer microseconds), and the count a
    10-minute watermark would drop. One shuffle on user_id feeds the
    running-max window; the summary is a dimension-sized groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max(F.unix_micros(F.col("ts"))).over(w)
    late_us = F.greatest(
        F.lit(0), F.coalesce(hwm, F.lit(0)) - F.unix_micros(F.col("ts"))
    )
    return (
        ev.select("event_type", late_us.alias("late_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_out_of_order"),
            F.max("late_us").alias("max_late_us"),
            F.sum("late_us").alias("sum_late_us"),
            F.sum((F.col("late_us") > 600 * 1_000_000).cast("long")).alias(
                "n_dropped_by_10m_watermark"
            ),
        )
    )


LATE_DATA_SQL = """
WITH l AS (
  SELECT event_type,
         greatest(0, coalesce(max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     - epoch_us(ts)) AS late_us
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(sum(late_us) AS BIGINT) AS sum_late_us,
       CAST(sum(CASE WHEN late_us > 600 * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_by_10m_watermark
FROM l GROUP BY 1
"""


PATH_TOPK = 10


def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the top-10 three-step event-type paths users
    actually walk inside a session (6 h gap rule) — the product-analytics
    view behind funnel design. One shuffle on user_id feeds the gap
    flag, the session counter, and the per-session ordered collect; the
    path explode is session-length-bounded and the top-k is a sort-limit
    over the |paths|-bounded count table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > 21600 * 1_000_000)
    ).cast("long")
    sess = (
        ev.withColumn("_new", is_new)
        .withColumn(
            "sid",
            F.sum("_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    arrs = sess.groupBy("user_id", "sid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(unix_micros(ts) AS t, "
            "event_id AS e, event_type AS ty))), s -> s.ty)"
        ).alias("a")
    )
    paths = arrs.filter(F.size("a") >= 3).select(
        "user_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 2), "
                "i -> concat_ws('>', a[i-1], a[i], a[i+1]))"
            )
        ).alias("path"),
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("user_id").alias("n_users"),
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "path").limit(PATH_TOPK)
    rank_w = Window.orderBy(F.col("n_occurrences").desc(), "path")  # 10-row result
    return top.select(
        F.row_number().over(rank_w).cast("long").alias("path_rank"),
        "path",
        "n_occurrences",
        "n_users",
    )


SESSION_PATH_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 21600 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
arrs AS (
  SELECT user_id, sid, list(event_type ORDER BY ts, event_id) AS a
  FROM sess GROUP BY 1, 2
),
paths AS (
  SELECT user_id, a[i] || '>' || a[i + 1] || '>' || a[i + 2] AS path
  FROM (SELECT user_id, a, unnest(range(1, len(a) - 1)) AS i
        FROM arrs WHERE len(a) >= 3)
),
counts AS (
  SELECT path, count(*) AS n_occurrences, count(DISTINCT user_id) AS n_users
  FROM paths GROUP BY 1
),
top AS (SELECT * FROM counts ORDER BY n_occurrences DESC, path LIMIT {PATH_TOPK})
SELECT row_number() OVER (ORDER BY n_occurrences DESC, path) AS path_rank,
       path, n_occurrences, n_users
FROM top
"""


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: score the seasonal-naive predictor (day d's
    value = day d-7's value) over the daily per-type revenue series —
    the baseline every forecasting pipeline must beat, with MAE and
    bias in exact integer cents. One shuffle to the daily series; the
    lag window and the error aggregate run over |types| × |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("pred", F.lag("cents", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("cents") - F.col("pred")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(F.abs(err)).alias("sum_abs_err_cents"),
        F.sum(err).alias("bias_cents"),
        F.expr("sum(abs(cents - pred)) DIV count(*)").alias("mae_cents"),
    )


SEASONAL_NAIVE_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, cents,
         lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
  FROM daily
)
SELECT event_type, count(*) AS n_days_scored,
       CAST(sum(abs(cents - pred)) AS BIGINT) AS sum_abs_err_cents,
       CAST(sum(cents - pred) AS BIGINT) AS bias_cents,
       CAST(sum(abs(cents - pred)) // count(*) AS BIGINT) AS mae_cents
FROM scored WHERE pred IS NOT NULL
GROUP BY 1
"""


def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured props: parse each
    JSON payload ONCE into the binary variant encoding, then extract
    typed fields with ``variant_get`` — the engine-native successor to
    per-path ``get_json_object`` string re-parsing (one parse amortizes
    across any number of extractions; the variant encoding is also the
    open-table-format interchange type). Results must equal the
    string-path ``json_props_extract`` exactly; per-type stats include
    min/max so more than the sum is pinned."""
    ev = load_table(spark, sf_dir, "events")
    # try_variant_get: non-coercible k yields NULL, not a runtime error
    # (unicode-sweep class); the oracle mirrors with TRY_CAST
    k = F.expr("try_variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
        )
    )


VARIANT_PROPS_SQL = """
SELECT event_type,
       sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS min_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS max_k,
       count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
FROM events
GROUP BY event_type
"""


CORR_WINDOW = 6  # current day + 6 preceding = 7-day window


def rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between the daily purchase
    revenue and the daily click count — the co-movement monitor behind
    "are clicks still converting?". All five moments accumulate exactly
    over the |days|-sized daily table (one corpus shuffle); the only
    float math is the final fraction, written identically on both
    engines (sqrt is correctly rounded IEEE), with a 6-dp portable
    round. Degenerate windows (zero variance) emit NULL.

    Headroom (r9 --bigmoney sweep catch): the original BIGINT x·x
    wrapped once daily cents passed ~3e9 (x² > 9.2e18) — far BELOW a
    100 TB day's revenue. The quadratic moments now ride
    decimal(38,0)/HUGEINT per the house rule (safe to x ~ 1e16 cents/
    day with n = 7: n·sxx ≤ ~5e33); the linear sums stay int64."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum((F.col("event_type") == "click").cast("long")).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-CORR_WINDOW, 0)  # |days|-sized series
    dec = "decimal(38,0)"
    m = (
        daily.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxx", F.sum(F.col("x").cast(dec) * F.col("x")).over(w))
        .withColumn("syy", F.sum(F.col("y").cast(dec) * F.col("y")).over(w))
        .withColumn("sxy", F.sum(F.col("x").cast(dec) * F.col("y")).over(w))
        .filter(F.col("n") == CORR_WINDOW + 1)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.floor(
            num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))) * 1000000
            + F.lit(0.5)
        )
        / 1000000,
    )
    return m.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "y",
        corr.alias("corr_7d"),
    )


ROLLING_CORR_SQL = f"""
WITH daily AS (
  SELECT ts::DATE AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT day, x, y,
         count(*) OVER w AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) OVER w AS HUGEINT) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {CORR_WINDOW} PRECEDING AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day, x, y,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND n * syy - CAST(sy AS HUGEINT) * sy > 0
            THEN floor((n * sxy - CAST(sx AS HUGEINT) * sy)
                       / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                       * 1000000 + 0.5)
                 / 1000000
       END AS corr_7d
FROM m WHERE n = {CORR_WINDOW + 1}
"""


def gap_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-SLA style report: p50/p95/p99 of the inter-event gap (in
    whole seconds) per event type — the distribution behind "how often
    does this signal tick?". Gaps come from one user-keyed lag window;
    the exact percentile_disc thresholds come from the shared
    histogram-percentile operator (`cleaning.histogram_disc_percentiles`
    — second call site, property-tested), so no per-type row sort ever
    happens: the cumulative window runs over the gap-value histogram."""
    from ..operators import cleaning

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_s = (
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1_000_000
    ).cast("long")
    gaps = (
        ev.withColumn("gap_s", gap_s)
        .filter(F.col("gap_s").isNotNull())
        .select("event_type", "gap_s")
    )
    _, th = cleaning.histogram_disc_percentiles(
        gaps,
        "event_type",
        "gap_s",
        {"p50_s": (50, 100), "p95_s": (95, 100), "p99_s": (99, 100)},
    )
    counts = gaps.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_gaps"))
    return th.join(counts, "event_type").select(
        "event_type", "n_gaps", "p50_s", "p95_s", "p99_s"
    )


GAP_PERCENTILES_SQL = """
WITH gaps AS (
  SELECT event_type,
         CAST((epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY epoch_us(ts), event_id)) // 1000000 AS BIGINT) AS gap_s
  FROM events
),
g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL),
h AS (SELECT event_type, gap_s, count(*) AS c FROM g GROUP BY 1, 2),
c AS (
  SELECT event_type, gap_s, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN gap_s END) AS p50_s,
       min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN gap_s END) AS p95_s,
       min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN gap_s END) AS p99_s
FROM c GROUP BY 1
"""


def position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) marketing attribution: each
    purchase's value credits the user's click touchpoints in the prior
    7 days — 40% to the first touch, 40% to the last, the middle 20%
    split across interior touches. Deterministic EXACT integer
    arithmetic: credits are basis points of the purchase; interior
    touches get floor(2000/n_mid) bp each and the earliest interior
    touch absorbs the remainder, so every purchase's credits sum to
    exactly 10000 bp (single-touch purchases: 10000 to that touch).

    Scale shape: the touch join is the user-keyed interval join (equi
    key carries the shuffle, the 7-day bound is a post-join filter);
    ranking runs per purchase (bounded by touches-per-user-week); the
    final aggregate is one groupBy on the touch."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("touch_id"), F.col("ts").alias("t_ts")
    )
    joined = purchases.join(clicks, "user_id").filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    w = Window.partitionBy("purchase_id").orderBy("t_ts", "touch_id")
    ranked = (
        joined.withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("purchase_id")))
        .withColumn("n_mid", F.greatest(F.col("n") - 2, F.lit(0)))
    )
    bp = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("pos") == 1, F.lit(4000))
        .when(F.col("pos") == F.col("n"), F.lit(4000))
        .otherwise(
            F.expr("2000 DIV n_mid")
            + F.when(F.col("pos") == 2, F.expr("2000 % n_mid")).otherwise(F.lit(0))
        )
    )
    # n == 2: first and last each take 4000, the undistributed middle
    # 2000 bp goes to the FIRST touch (documented house rule)
    bp = F.when((F.col("n") == 2) & (F.col("pos") == 1), F.lit(6000)).otherwise(bp)
    return (
        ranked.withColumn("bp", bp)
        .groupBy("touch_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("bp").alias("sum_bp"),
            F.sum(F.expr("cents * bp")).alias("credit_cents_x10000"),
        )
    )


POSITION_ATTRIB_SQL = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS touch_id, ts AS t_ts
  FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.*, c.touch_id, c.t_ts
  FROM p JOIN c USING (user_id)
  WHERE c.t_ts <= p.p_ts AND c.t_ts > p.p_ts - INTERVAL 7 DAY
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY purchase_id ORDER BY t_ts, touch_id) AS pos,
         count(*) OVER (PARTITION BY purchase_id) AS n,
         greatest(count(*) OVER (PARTITION BY purchase_id) - 2, 0) AS n_mid
  FROM j
),
b AS (
  SELECT *,
         CASE WHEN n = 1 THEN 10000
              WHEN n = 2 AND pos = 1 THEN 6000
              WHEN pos = 1 THEN 4000
              WHEN pos = n THEN 4000
              ELSE 2000 // n_mid + CASE WHEN pos = 2 THEN 2000 % n_mid ELSE 0 END
         END AS bp
  FROM r
)
SELECT touch_id, count(*) AS n_purchases,
       CAST(sum(bp) AS BIGINT) AS sum_bp,
       CAST(sum(cents * bp) AS BIGINT) AS credit_cents_x10000
FROM b GROUP BY 1
"""


def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: the maximum number of user sessions
    (6 h gap rule, [start, end) half-open) simultaneously open, and the
    first instant that peak is reached — the capacity number behind
    connection pools and autoscaling floors.

    Scale shape: sessions reduce from ONE user-keyed shuffle; the sweep
    is +1/−1 boundary events ordered by (ts, delta) — ends before
    starts at the same instant, so touching sessions never double-count
    — with a running sum over the session-boundary-sized set (2 rows
    per session, already reduced from the corpus; the global window
    rides the documented reduced-set exemption). Output is one row of
    exact integers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > 21600 * 1_000_000)
    ).cast("long")
    sess = (
        ev.withColumn("_new", is_new)
        .withColumn(
            "sid",
            F.sum("_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
        )
    )
    bounds = sess.select(
        F.col("start_us").alias("t"), F.lit(1).alias("delta")
    ).unionAll(sess.select(F.col("end_us").alias("t"), F.lit(-1).alias("delta")))
    sweep = bounds.withColumn(
        "running",
        F.sum("delta").over(
            Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    peak = sweep.agg(F.max("running").alias("peak_concurrent"))
    first_at = (
        sweep.join(F.broadcast(peak), F.col("running") == F.col("peak_concurrent"))
        .agg(F.min("t").alias("_at_us"))
    )
    n = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        n.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(first_at))
        .select(
            "n_sessions",
            "peak_concurrent",
            F.date_format(
                F.timestamp_micros(F.col("_at_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("first_peak_at"),
        )
    )


SESSION_PEAK_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 21600 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
         ts
  FROM flagged
),
spans AS (
  SELECT user_id, sid, min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
  FROM sess GROUP BY 1, 2
),
bounds AS (
  SELECT start_us AS t, 1 AS delta FROM spans
  UNION ALL
  SELECT end_us AS t, -1 AS delta FROM spans
),
sweep AS (
  SELECT t, delta,
         sum(delta) OVER (ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM bounds
),
peak AS (SELECT CAST(max(running) AS BIGINT) AS peak_concurrent FROM sweep)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM spans) AS n_sessions,
       peak_concurrent,
       strftime(make_timestamp((SELECT min(t) FROM sweep, peak
                                WHERE running = peak_concurrent)),
                '%Y-%m-%d %H:%M:%S') AS first_peak_at
FROM peak
"""


# --- per-user max drawdown ---------------------------------------------------

def max_drawdown_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown over the signed purchase/error balance
    series (purchases credit, errors debit, ordered by time): the
    largest peak-to-trough drop of the running balance — the risk
    metric shape (running extremum of a running aggregate) that also
    powers inventory-low-water and quota-burn alerts. All arithmetic in
    integer cents.

    Scale shape: two stacked user-partitioned windows (running sum, then
    running max over the materialized balance — window functions can't
    nest, so the passes are sequential) + one per-user aggregate;
    everything shuffles once on user_id and the second window reuses the
    first's sort order."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    signed = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents("value"))
        .otherwise(-cents("value"))
        .alias("delta"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    run = (
        signed.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("bal", F.sum("delta").over(w_run))
        .withColumn("peak", F.max("bal").over(w_run))
    )
    return run.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tx"),
        F.max("bal").cast("long").alias("peak_cents"),
        # arg-max over the row counter, not a struct key: DuckDB's max_by
        # has no struct-ordered overload, so both engines order by rn
        F.max_by("bal", "rn").cast("long").alias("final_cents"),
        F.max(F.col("peak") - F.col("bal")).cast("long").alias("max_drawdown_cents"),
    )


MAX_DRAWDOWN_SQL = f"""
WITH signed AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN {CENTS_SQL.format(x="value")}
              ELSE -{CENTS_SQL.format(x="value")} END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')
),
bal AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS bal
  FROM signed
),
run AS (
  SELECT user_id, rn, bal,
         max(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bal
)
SELECT user_id,
       count(*)::BIGINT AS n_tx,
       CAST(max(bal) AS BIGINT) AS peak_cents,
       CAST(max_by(bal, rn) AS BIGINT) AS final_cents,
       CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents
FROM run
GROUP BY user_id
"""


# --- interval-overlap join ----------------------------------------------------

OVERLAP_GAP_S = 1800  # session gap, shared by both engines


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval proximity join: per user, sessionize purchase
    activity and error activity independently (30-min gap), then join
    the two INTERVAL SETS on proximity — a (purchase session, error
    session) pair qualifies when the intervals come within the session
    gap of each other; distance 0 means they genuinely intersect. "Did
    errors coincide with purchase activity?" as interval algebra — the
    missing sibling of the point-in-interval range join
    (range_join_error_purchases): both sides are intervals and the
    predicate is the banded start_a <= end_b + gap AND start_b <= end_a
    + gap. (Strict intersection alone would be degenerate here: sparse
    per-user activity makes most sessions single-event POINT intervals,
    which never strictly intersect — the tolerance IS the semantics.)
    All arithmetic in exact integer microseconds.

    Scale shape: sessionization is the audited single-shuffle operator
    (operators/sessionize.py); the proximity join is an EQUI-join on
    user_id with the banded interval predicate as a residual filter —
    per-user interval counts are bounded (sessions per user), so no
    block ever goes quadratic in the corpus."""
    from ..operators.sessionize import session_stats

    gap_us = OVERLAP_GAP_S * 1_000_000
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    iv = session_stats(
        ev, "ts", by=["user_id", "event_type"], gap_seconds=OVERLAP_GAP_S,
        tiebreak=["event_id"],
    ).select(
        "user_id",
        "event_type",
        F.unix_micros("session_start").alias("s"),
        F.unix_micros("session_end").alias("e"),
    )
    p = iv.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("ps"), F.col("e").alias("pe")
    )
    er = iv.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("_uid"), F.col("s").alias("es"), F.col("e").alias("ee")
    )
    dist = F.greatest(
        F.lit(0).cast("long"),
        F.greatest(F.col("ps"), F.col("es")) - F.least(F.col("pe"), F.col("ee")),
    )
    ov = p.join(
        er,
        (p.user_id == er._uid)
        & (F.col("ps") <= F.col("ee") + F.lit(gap_us))
        & (F.col("es") <= F.col("pe") + F.lit(gap_us)),
    ).select("user_id", dist.alias("dist_us"))
    return ov.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist_us") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_intersecting"),
        F.min("dist_us").cast("long").alias("min_dist_us"),
        F.sum("dist_us").cast("long").alias("sum_dist_us"),
    )


INTERVAL_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
  FROM events WHERE event_type IN ('purchase', 'error')
),
flags AS (
  SELECT user_id, event_type, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > {OVERLAP_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tus, event_id)
),
sess AS (
  -- event_id tiebreak matches the flags window AND the Spark side
  -- (session_stats tiebreak=["event_id"]): without it the ROWS-framed
  -- running sum is nondeterministic on timestamp ties
  SELECT user_id, event_type, tus,
         sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY tus, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags
),
iv AS (
  SELECT user_id, event_type, sid, min(tus) AS s, max(tus) AS e
  FROM sess GROUP BY 1, 2, 3
),
p AS (SELECT user_id, s AS ps, e AS pe FROM iv WHERE event_type = 'purchase'),
er AS (SELECT user_id, s AS es, e AS ee FROM iv WHERE event_type = 'error'),
ov AS (
  SELECT p.user_id,
         greatest(0, greatest(ps, es) - least(pe, ee)) AS dist_us
  FROM p JOIN er ON p.user_id = er.user_id
   AND ps <= ee + {OVERLAP_GAP_S * 1_000_000}
   AND es <= pe + {OVERLAP_GAP_S * 1_000_000}
)
SELECT user_id,
       count(*)::BIGINT AS n_pairs,
       CAST(sum(CASE WHEN dist_us = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersecting,
       CAST(min(dist_us) AS BIGINT) AS min_dist_us,
       CAST(sum(dist_us) AS BIGINT) AS sum_dist_us
FROM ov GROUP BY 1
"""


# --- per-group closed-form OLS trend ------------------------------------------

def ols_daily_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of the daily event count: closed-form
    OLS over (epoch-day, count) — slope in parts-per-million events/day
    plus the fit's r² in basis points. The per-key regression every
    monitoring system runs to answer "is this stream growing?" without a
    window scan (seasonal_trend_decompose smooths; this fits).

    Exactness: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    exact integers; slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) and
    r² = num² / (den·(nΣy² − (Σy)²)) are each ONE double division over
    identically-converted integers, floored on both engines — no float
    accumulation anywhere.

    Scale shape: one (type, day) aggregate, then a 5-accumulator
    aggregate per type — the sufficient-statistics pattern means the
    regression itself never sees row-level data."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate-input guard (mirrors twap_daily_value's pattern): den=0
    # (a type seen on one distinct day) or syy_c=0 (zero count variance)
    # must yield NULL on BOTH engines — unguarded, Spark non-ANSI x/0
    # gives NULL while DuckDB IEEE division gives ±inf and CAST(floor(inf)
    # AS BIGINT) aborts the whole oracle query. Unreachable at registered
    # SFs, guarded anyway.
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("n_events"),
        F.when(
            den > 0,
            F.floor(F.lit(1000000.0) * num.cast("double") / den.cast("double")),
        )
        .cast("long")
        .alias("slope_ppm"),
        F.when(
            (den > 0) & (syy_c > 0),
            F.floor(
                F.lit(10000.0)
                * num.cast("double")
                * num.cast("double")
                / (den.cast("double") * syy_c.cast("double"))
            ),
        )
        .cast("long")
        .alias("r2_bp"),
    )


OLS_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         (ts::DATE - DATE '1970-01-01') AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM daily GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(sy AS BIGINT) AS n_events,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT) AS slope_ppm,
       CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         floor(10000.0
               * CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE))) END AS BIGINT) AS r2_bp
FROM stats
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


# --- daily revenue series -------------------------------------------------------


def _orders_revenue_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(_day, _x): exact order-total cents per order date."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    return orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        F.sum(cents("o_totalprice")).alias("_x")
    )


def _purchase_revenue_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(_day, _x): exact purchase cents per calendar day, over purchases
    with a non-negative value and a timestamp."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("ts").isNotNull()
    )
    return ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(cents("value")).alias("_x")
    )


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
    daily = _orders_revenue_daily(spark, sf_dir)
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
    daily = _orders_revenue_daily(spark, sf_dir)
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
    daily = _purchase_revenue_daily(spark, sf_dir)
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


CUSUM_REVENUE_SQL = f"""
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


TRANSITION_SURPRISAL_SQL = """
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
    daily = _purchase_revenue_daily(spark, sf_dir)
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
    daily = _purchase_revenue_daily(spark, sf_dir)
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
    daily = _purchase_revenue_daily(spark, sf_dir)
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
    daily = _purchase_revenue_daily(spark, sf_dir).withColumnRenamed("_x", "_y")
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
