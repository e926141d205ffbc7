"""Incremental-maintenance & operational-analytics patterns:

- partial-aggregate merge (incremental refresh ≡ full recompute),
- snapshot reconciliation diff (full-outer classify add/remove/change),
- rapid-fire event dedup (keep the first event of each burst),
- trailing-window z-score anomaly detection.

Each demonstrates a pattern a production pipeline leans on daily; all
stay pure Catalyst (windows + joins + aggregates), every one oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cleaning, derive, sampling
from ..operators.derive import CENTS_SQL, cents
from ..session import load_table

CUTOFF = "2000-01-01"


def incremental_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: yesterday's materialized
    partials (events before CUTOFF) merged with the fresh delta — the
    union re-aggregates to EXACTLY the full recompute, because count/sum
    are mergeable partial aggregates. The oracle IS the full recompute;
    matching it proves the merge identity. At 100 TB this is the
    difference between scanning one day and scanning three years."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    partial = lambda df: df.groupBy("day", "event_type").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    base = partial(ev.filter(F.col("day") < F.lit(CUTOFF)))
    delta = partial(ev.filter(F.col("day") >= F.lit(CUTOFF)))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
    )


INCREMENTAL_SQL = """
SELECT ts::DATE AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: two versions of the orders table (the
    old snapshot misses post-1999 orders; the new one reprices 1998+)
    full-outer-joined on the key and classified added / removed /
    changed / same — the audit report a CDC pipeline emits per sync.
    One shuffle on the key; classification is a projection."""
    orders = load_table(spark, sf_dir, "orders")
    snap_a = orders.filter(F.year("o_orderdate") < 2000).select(
        F.col("o_orderkey").alias("key_a"), F.round("o_totalprice", 2).alias("price_a")
    )
    # portable_round: 2-dec prices × 1.05 land on exact .xx5 half
    # boundaries where engine round() semantics diverge
    snap_b = orders.filter(F.year("o_orderdate") >= 1996).select(
        F.col("o_orderkey").alias("key_b"),
        derive.portable_round(
            F.when(
                F.year("o_orderdate") >= 1998, F.col("o_totalprice") * 1.05
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("price_b"),
    )
    diff = snap_a.join(snap_b, F.col("key_a") == F.col("key_b"), "full_outer").withColumn(
        "status",
        F.when(F.col("key_a").isNull(), "added")
        .when(F.col("key_b").isNull(), "removed")
        .when(F.col("price_a") != F.col("price_b"), "changed")
        .otherwise("same"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.coalesce("price_b", F.lit(0.0)) - F.coalesce("price_a", F.lit(0.0))), 2).alias(
            "value_delta"
        ),
    )


SNAPSHOT_DIFF_SQL = """
WITH snap_a AS (
  SELECT o_orderkey AS key_a, round(o_totalprice, 2) AS price_a
  FROM orders WHERE year(o_orderdate) < 2000
),
snap_b AS (
  SELECT o_orderkey AS key_b,
         floor((CASE WHEN year(o_orderdate) >= 1998 THEN o_totalprice * 1.05
                     ELSE o_totalprice END) * 100 + 0.5) / 100 AS price_b
  FROM orders WHERE year(o_orderdate) >= 1996
),
diff AS (
  SELECT CASE WHEN key_a IS NULL THEN 'added'
              WHEN key_b IS NULL THEN 'removed'
              WHEN price_a <> price_b THEN 'changed'
              ELSE 'same' END AS status,
         coalesce(price_b, 0.0) - coalesce(price_a, 0.0) AS delta
  FROM snap_a FULL OUTER JOIN snap_b ON key_a = key_b
)
SELECT status, count(*) AS n_orders, round(sum(delta), 2) AS value_delta
FROM diff
GROUP BY status
"""


def dedup_rapid_fire_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst dedup: within each (user, event_type), events arriving
    within 60 s of the previous one are retries/double-clicks — keep
    only the first of each burst. The chained-gap flag (gap > 60 s opens
    a burst) is one lag() over one partitioned sort; integer-microsecond
    arithmetic avoids float/interval ambiguity (same convention as
    lead_gap_to_next_event)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    is_burst_start = prev_us.isNull() | (F.unix_micros("ts") - prev_us > 60 * 1_000_000)
    return (
        ev.withColumn("_keep", is_burst_start)
        .filter(F.col("_keep"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
            F.round("value", 2).alias("value"),
        )
    )


RAPID_FIRE_SQL = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time,
       round(value, 2) AS value
FROM (
  SELECT *,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                                ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
WHERE gap_us IS NULL OR gap_us > 60 * 1000000
"""


def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each event's value scored
    against the user's previous 20 events (mean, sample stddev); |z| >
    2.5 with ≥ 10 history points flags an anomaly. One partitioned sort
    feeds all three frame aggregates — a single shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-20, -1)
    )
    hist_n = F.count("value").over(w)
    hist_avg = F.avg("value").over(w)
    hist_std = F.stddev_samp("value").over(w)
    z = (F.col("value") - hist_avg) / hist_std
    return (
        ev.withColumn("_n", hist_n)
        .withColumn("_z", z)
        .filter((F.col("_n") >= 10) & (F.abs(F.col("_z")) > 2.5))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.round("_z", 3).alias("zscore"),
        )
    )


ZSCORE_SQL = """
SELECT event_id, user_id, round(value, 2) AS value, round(z, 3) AS zscore
FROM (
  SELECT event_id, user_id, value,
         count(value)  OVER w AS n,
         (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
WHERE n >= 10 AND abs(z) > 2.5
"""


def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: modified z-score against the
    group's MEDIAN and MAD (median absolute deviation) — immune to the
    outliers polluting the baseline, which is exactly what mean/stddev
    scoring (rolling_zscore_anomalies) suffers from.

    Two grouped EXACT percentiles (one shuffle each, group-key
    partitioned) with the group medians broadcast back between passes —
    group stats are dimension-sized (one row per event_type), so no
    events-side shuffle is added by either join."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - _med), 0.5)").alias("_mad")
    )
    mz = 0.6745 * F.abs(F.col("value") - F.col("_med")) / F.col("_mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("_mad") > 0) & (mz > 3.5))
        .select(
            "event_id",
            "event_type",
            derive.portable_round("value", 2).alias("value"),
            derive.portable_round(mz, 4).alias("mod_zscore"),
        )
    )


MAD_OUTLIER_SQL = """
WITH m AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
d AS (SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN m USING (event_type)),
a AS (
  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad FROM d GROUP BY 1
)
SELECT event_id, d.event_type, floor(value * 100 + 0.5) / 100 AS value,
       floor(0.6745 * abs(value - med) / mad * 10000 + 0.5) / 10000 AS mod_zscore
FROM d JOIN a USING (event_type)
WHERE mad > 0 AND 0.6745 * abs(value - med) / mad > 3.5
"""


def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (clip at p01/p99 per event_type) — the
    standard robustification before feeding a value column to a model.

    Scale shape: thresholds come from a VALUE HISTOGRAM, not a per-group
    sort — events shuffle ONCE to (event_type, cents) counts (bounded by
    the value space, ~6.6k distinct cents here, never by row count); the
    cumulative window and the final clip/aggregate both run over that
    compressed histogram, so no second corpus scan and no single-reducer
    per-type sort at 100 TB. Thresholds are percentile_disc semantics
    (smallest value with cume count ≥ ceil(p·n)) in exact integer
    arithmetic; every output is integer cents — bit-stable cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    # shared histogram-percentile operator (property-tested against a
    # pure-Python percentile_disc model in tests/test_properties.py);
    # the returned histogram is lazily checkpointed so the clip
    # aggregate reuses it without a second corpus scan
    hist, th = cleaning.histogram_disc_percentiles(
        ev.select("event_type", cents.alias("cents")),
        "event_type",
        "cents",
        {"lo_cents": (1, 100), "hi_cents": (99, 100)},
    )
    hist = hist.select(
        "event_type", F.col("_hv").alias("cents"), F.col("_hc").alias("cnt")
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
    # r10 count-headroom audit fix: the cnt·cents cell product and its
    # sum rode plain int64, which wraps once total winsorized money
    # passes ~9.2e18 cents — reachable by row count × whale magnitude
    # (the --bigmoney class crossed with large n, which no physical-row
    # sweep can reach). The moment now rides decimal(38,0)/HUGEINT and
    # the BIGINT output carries the theil_sen representation bound
    # (mirrored NULL), the timeseries_queries.theil_sen_trend pattern.
    return (
        hist.join(F.broadcast(th), "event_type")
        .groupBy("event_type", "lo_cents", "hi_cents")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), F.col("cnt")).otherwise(0)).alias(
                "n_clipped_lo"
            ),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), F.col("cnt")).otherwise(0)).alias(
                "n_clipped_hi"
            ),
            F.sum(F.col("cnt").cast("decimal(38,0)") * clipped).alias("_swc"),
        )
        .select(
            "event_type",
            "n_events",
            "lo_cents",
            "hi_cents",
            "n_clipped_lo",
            "n_clipped_hi",
            F.expr(
                "CASE WHEN _swc >= -9223372036854775808"
                " AND _swc <= 9223372036854775807"
                " THEN CAST(_swc AS BIGINT) END"
            ).alias("sum_winsorized_cents"),
        )
    )


WINSORIZE_SQL = """
WITH h AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, cents, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM h
),
th AS (
  SELECT event_type,
         min(CASE WHEN cum >= (n + 99) // 100 THEN cents END) AS lo_cents,
         min(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END) AS hi_cents
  FROM c GROUP BY 1
)
SELECT h.event_type, CAST(sum(cnt) AS BIGINT) AS n_events, lo_cents, hi_cents,
       CAST(sum(CASE WHEN cents < lo_cents THEN cnt ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN cents > hi_cents THEN cnt ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       -- exact HUGEINT moment + mirrored int64 representation bound
       -- (NULL past it), matching the Spark side's decimal(38,0) form
       CASE WHEN sum(CAST(cnt AS HUGEINT) * least(greatest(cents, lo_cents), hi_cents))
              BETWEEN -9223372036854775808 AND 9223372036854775807
            THEN CAST(sum(CAST(cnt AS HUGEINT)
                          * least(greatest(cents, lo_cents), hi_cents)) AS BIGINT)
       END AS sum_winsorized_cents
FROM h JOIN th USING (event_type)
GROUP BY 1, 3, 4
"""


def table_checksum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table fingerprint: per-day row count plus
    order-independent row-hash aggregates (sum + xor of a canonical-form
    md5) — what two replicas / a source and its replicated sink compare
    to find divergent partitions without moving data. Map-only hashing,
    one shuffle to day granularity. The xor aggregate is the
    scale-robust one (overflow-free at any row count); the sum is kept
    as a second independent signal."""
    ev = load_table(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.col("user_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
    )
    from ..operators.dedup import md5_int

    return (
        ev.select(F.to_date("ts").alias("day"), md5_int(canon).alias("h"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("checksum_sum"),
            F.expr("bit_xor(h)").alias("checksum_xor"),
        )
    )


TABLE_CHECKSUM_SQL = """
WITH h AS (
  SELECT ts::DATE AS day,
         ('0x' || substr(md5(concat_ws('|', event_id, strftime(ts, '%Y-%m-%d %H:%M:%S'),
                                       user_id, event_type,
                                       CAST(floor(value * 100 + 0.5) AS BIGINT))),
                         1, 8))::BIGINT AS h
  FROM events
)
SELECT day, count(*) AS n_rows,
       CAST(sum(h) AS BIGINT) AS checksum_sum,
       bit_xor(h) AS checksum_xor
FROM h GROUP BY 1
"""


DRIFT_BIN_CENTS = 2000  # 20-value-unit histogram bins
DRIFT_CUTOFF = "2024-01-16"  # splits the 30-day event span into ref/live halves


def value_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-distribution drift monitor: total-variation distance of
    each event type's value histogram between the reference period
    (before CUTOFF) and the live period (after) — the model-monitoring
    check that pages before a feature silently shifts. TV is computed
    in EXACT integer arithmetic (Σ|c·n₂ − d·n₁| · 10000 / (2·n₁·n₂)
    in basis points), unlike PSI/KL whose ln() is engine-specific.

    One shuffle to the (type, period, bin) histogram; the TV fold runs
    over the value-space-bounded bin table."""
    ev = load_table(spark, sf_dir, "events")
    binned = (
        ev.select(
            "event_type",
            (F.to_date("ts") < F.lit(DRIFT_CUTOFF)).alias("ref"),
            (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") / F.lit(DRIFT_BIN_CENTS))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.col("ref").cast("long")).alias("c"),
            F.sum((~F.col("ref")).cast("long")).alias("d"),
        )
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("c").alias("n1"), F.sum("d").alias("n2")
    )
    return (
        binned.join(F.broadcast(totals), "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            # a period with zero rows for a type (tiny-sweep class)
            # leaves TV undefined — -1 sentinel, mirrored in the oracle
            F.expr(
                "CASE WHEN n1 > 0 AND n2 > 0 THEN"
                " sum(abs(c * n2 - d * n1)) * 10000 DIV (2 * n1 * n2)"
                " ELSE -1 END"
            ).alias("tv_bp"),
        )
        .select("event_type", "n1", "n2", "n_bins", "tv_bp")
    )


VALUE_DRIFT_SQL = f"""
WITH binned AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) // {DRIFT_BIN_CENTS} AS bin,
         CAST(sum(CASE WHEN ts::DATE < DATE '{DRIFT_CUTOFF}' THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN ts::DATE < DATE '{DRIFT_CUTOFF}' THEN 0 ELSE 1 END) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n1, CAST(sum(d) AS BIGINT) AS n2
      FROM binned GROUP BY 1)
SELECT event_type, n1, n2, count(*) AS n_bins,
       CAST(CASE WHEN n1 > 0 AND n2 > 0
                 THEN sum(abs(c * n2 - d * n1)) * 10000 // (2 * n1 * n2)
                 ELSE -1 END AS BIGINT) AS tv_bp
FROM binned JOIN t USING (event_type)
GROUP BY 1, 2, 3
"""


CUSUM_K_NUM = 1  # slack k = mean/10 (k_num/k_den of the mean)
CUSUM_K_DEN = 10
CUSUM_H_NUM = 3  # alarm threshold h = 3·mean


def cusum_rate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential change detection (CUSUM) on the daily event-rate per
    type: alarm days where the one-sided cumulative sum of (count −
    mean − k) exceeds h — the classic drift detector for "this stream's
    rate shifted", caught earlier than any fixed-window z-score.

    The textbook recursion S_t = max(0, S_{t-1} + x_t − μ − k) is not a
    window aggregate, but its CLOSED FORM is: S_t = R_t − min_{j≤t} R_j
    over the running sum R of (x − μ − k) — two stock window functions.
    Everything is scaled into exact integers (counts × n_days × k_den),
    so the alarm decision is bit-stable cross-engine.

    One shuffle to the |types|×|days| daily table; windows partition by
    type; μ is a 1-row-per-type broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    mu = daily.groupBy("event_type").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("nd")
    )
    # integer drift term: (x − μ − k)·nd·k_den = x·nd·k_den − sx·k_den − sx·k_num
    j = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "day",
        "x",
        "nd",
        "sx",
        F.expr(
            f"x * nd * {CUSUM_K_DEN} - sx * {CUSUM_K_DEN} - sx * {CUSUM_K_NUM}"
        ).alias("z"),
    )
    wr = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = j.withColumn("run", F.sum("z").over(wr))
    s = r.withColumn(
        "cusum_scaled",
        F.col("run") - F.least(F.lit(0), F.min("run").over(wr)),
    )
    # alarm: S_t > h·mean, i.e. cusum_scaled > h_num·sx·k_den
    return s.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "cusum_scaled",
        (F.col("cusum_scaled") > F.expr(f"{CUSUM_H_NUM} * sx * {CUSUM_K_DEN}")).alias(
            "alarm"
        ),
    )


CUSUM_SQL = f"""
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
mu AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS nd
       FROM daily GROUP BY 1),
j AS (
  SELECT event_type, day, x, nd, sx,
         x * nd * {CUSUM_K_DEN} - sx * {CUSUM_K_DEN} - sx * {CUSUM_K_NUM} AS z
  FROM daily JOIN mu USING (event_type)
),
r AS (
  SELECT *, sum(z) OVER w AS run
  FROM j
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT *, run - least(0, min(run) OVER w) AS cusum_scaled
  FROM r
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       cusum_scaled > {CUSUM_H_NUM} * sx * {CUSUM_K_DEN} AS alarm
FROM s
"""


MEDIAN_WINDOW = 20  # current row + 20 preceding


def rolling_median_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (robust complement to the rolling z-score):
    each event's value against the median of its user's trailing 21
    events — the smoother a spike can't drag, in exact integer cents
    (percentile_disc semantics: element ceil(n/2) of the sorted frame).

    One shuffle on user_id; the frame collect is bounded by the constant
    window length, so per-row state is O(window), never O(history)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-MEDIAN_WINDOW, 0)
    )
    return (
        ev.withColumn("cents", cents)
        .withColumn("_f", F.array_sort(F.collect_list("cents").over(w)))
        .select(
            "event_id",
            "user_id",
            "cents",
            # all-NULL frame (nulls-sweep class): collect_list drops
            # NULLs, size 0 -> index 0 is illegal in Spark but NULL in
            # DuckDB's 1-based list index — mirror NULL explicitly
            F.when(
                F.size("_f") > 0,
                F.element_at(
                    F.col("_f"), F.expr("CAST((size(_f) + 1) DIV 2 AS INT)")
                ),
            ).alias("rolling_median_cents"),
        )
    )


ROLLING_MEDIAN_SQL = f"""
SELECT event_id, user_id,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       l[(len(l) + 1) // 2] AS rolling_median_cents
FROM (
  SELECT event_id, user_id, value,
         list_sort(list(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN {MEDIAN_WINDOW} PRECEDING AND CURRENT ROW)) AS l
  FROM events
)
"""


# --- two-sample KS drift gate ------------------------------------------------

def ks_value_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the purchase
    value distributions of two md5-split user cohorts: D = max over the
    pooled value domain of |F_a(v) - F_b(v)|, the standard distribution-
    equality test a data pipeline runs between a new ingest batch and its
    history (value_drift_tv bins first; KS works on the exact CDF and
    catches shifts binning smears).

    Exactness: D is computed in pure integer arithmetic —
    max |cum_a·N_b − cum_b·N_a| over distinct cents values, scaled to
    basis points only at the end — so both engines agree bit-for-bit.

    Scale shape: one groupBy to (cents, cohort) counts, then running
    sums over the DISTINCT VALUE DOMAIN (cents of a bounded price range
    — domain-bounded like column_encoding_advisor, not data-bounded);
    the cohort split is a map-side hash.

    Empty input (zero rankable purchase events) emits ZERO rows in both
    engines: the trailing isNotNull filter drops Spark's all-NULL
    ungrouped-agg row to match the oracle's empty GROUP BY."""
    # NULL values have no CDF position and NULL user ids no cohort —
    # both excluded in BOTH engines (review finding: a NULL value group
    # sorts NULLS FIRST in Spark / NULLS LAST in DuckDB, shifting every
    # cumulative count; a NULL cohort key hits the when/otherwise-vs-
    # CASE-ELSE asymmetry)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    g = ev.select(
        cents("value").alias("v"),
        (sampling.hash_bucket(F.col("user_id"), "ks", 2) == 0).alias("_a"),
    )
    per_v = g.groupBy("v").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    tot = cum.agg(F.max("ca").alias("na"), F.max("cb").alias("nb"))
    joined = cum.crossJoin(F.broadcast(tot))
    # Integer division end-to-end, in decimal(38,0) for headroom: the
    # numerator max|ca·nb − cb·na|·10000 exceeds int64 once each cohort
    # holds ~1e6+ events (~sf1+), and double division would silently
    # diverge from the oracle's HUGEINT `//`. All operands are
    # non-negative so Spark `div` (truncate) == DuckDB `//` (floor),
    # and the quotient is ≤ 10000 bp so the long result can't overflow.
    agg = joined.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(
            F.abs(
                F.col("ca").cast("decimal(38,0)") * F.col("nb")
                - F.col("cb").cast("decimal(38,0)") * F.col("na")
            )
        ).alias("_max_abs"),
    )
    # KS is undefined when a cohort is empty (possible only on tiny
    # inputs) — -1 sentinel, mirrored in the oracle (tiny-sweep class).
    # The trailing filter drops Spark's all-NULL ungrouped-agg row on
    # EMPTY input, matching the oracle's 0-row GROUP BY exactly (this
    # retires the docstring's former known-divergence).
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN (_max_abs * 10000)"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) ELSE -1 END AS BIGINT)"
        ).alias("ks_bp"),
    ).where(F.col("n_a").isNotNull())


KS_DRIFT_SQL = f"""
WITH g AS (
  SELECT {CENTS_SQL.format(x="value")} AS v,
         ('0x' || substr(md5(user_id::VARCHAR || 'ks'), 1, 8))::BIGINT % 2 = 0 AS a
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
cum AS (
  SELECT sum(na) OVER (ORDER BY v) AS ca,
         sum(nb) OVER (ORDER BY v) AS cb
  FROM per_v
),
tot AS (SELECT max(ca) AS na, max(cb) AS nb FROM cum)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(CASE WHEN na > 0 AND nb > 0
                 THEN max(abs(ca * nb - cb * na)) * 10000 // (na * nb)
                 ELSE -1 END AS BIGINT) AS ks_bp
FROM cum, tot
GROUP BY na, nb
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
