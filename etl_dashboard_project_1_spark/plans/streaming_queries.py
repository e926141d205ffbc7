"""Correctness-gate pairs for the streaming operator set, checked in BATCH
mode (the window expressions are mode-agnostic; tests/test_streaming.py
drives the same builders through readStream + memory sink).

Window starts are epoch-aligned in Spark; the oracle floors epoch seconds
to the same boundaries. Timestamps are emitted as formatted strings so the
comparison is timezone-representation-proof (session TZ pinned to UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from ..streaming import jobs


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.tumbling_counts(load_table(spark, sf_dir, "events"))


STREAM_TUMBLING_SQL = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.sliding_avg(load_table(spark, sf_dir, "events"))


# a 10-min window sliding by 5: each event lands in exactly 2 windows —
# floor to each of the two 5-min-aligned starts covering the event
STREAM_SLIDING_SQL = """
WITH starts AS (
  SELECT *, floor(epoch(ts) / 300) * 300 - s.off AS win_start
  FROM events, (SELECT 0 AS off UNION ALL SELECT 300) s
)
SELECT strftime(to_timestamp(win_start), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CASE WHEN count(value) > 0
            THEN floor((sum(CAST(round(value * 100) AS BIGINT)) * 100.0)
                       / count(value) + 0.5) / 10000
       END AS avg_value,
       count(*) AS n_events
FROM starts
GROUP BY 1, 2
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.user_sessions(load_table(spark, sf_dir, "events"))


STREAM_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessioned AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sessioned
GROUP BY user_id, session_id
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = jobs.dedup_events(load_table(spark, sf_dir, "events"))
    return df.select("event_id", "user_id", "event_type")


STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn FROM events)
WHERE rn = 1
"""


def stream_error_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the stream-stream interval join builder — the
    streaming mode (watermarks both sides, bounded buffered state) is
    exercised in tests/test_streaming.py with a file source."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return jobs.error_purchase_interval_join(errors, purchases)


STREAM_JOIN_SQL = """
SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id,
       floor(p.value * 100 + 0.5) / 100 AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 1 HOUR
"""


def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour: the watermarked per-window
    counts (streamable) + rank-on-closed-windows (batch/foreachBatch
    side). Deterministic tie-break: count desc, type asc."""
    from pyspark.sql import Window

    counts = jobs.windowed_type_counts(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n_events")
    )


STREAM_TOPK_SQL = """
WITH counts AS (
  SELECT strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type ASC) AS INT) AS rank,
       event_type, n_events
FROM counts
QUALIFY rank <= 3
"""


def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the stream-static broadcast enrichment (the
    streaming mode — readStream events ⋈ broadcast static dims, append
    output, zero state — is exercised in tests/test_streaming.py)."""
    return jobs.enriched_events(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


STREAM_ENRICH_SQL = """
SELECT event_id, user_id, event_type,
       round(value, 2) AS value,
       c_mktsegment, n_name AS nation
FROM events
LEFT JOIN customer ON user_id = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
"""


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key state (``applyInPandasWithState``) gated as a REAL
    stream: unlike the window queries above (mode-agnostic expressions
    checked in batch), this drives the actual streaming runtime —
    file-source micro-batches, Arrow-batched python state updates, memory
    sink — and compares the FINAL emitted state per user against the
    batch oracle. Update-mode emits one row per (batch, touched user);
    the final state is the max-``n_events`` row per user (the running
    count is strictly increasing, so the argmax is unique).

    State scale: one (count, total) pair per user — bounded by key
    cardinality, never by stream length."""
    from pyspark.sql import Window

    view = "stateful_totals_gate"
    spark.catalog.dropTempView(view)
    q = jobs.run_stream_to_memory(
        jobs.stateful_user_totals(jobs.read_events_stream(spark, sf_dir)),
        view,
        output_mode="update",
    )
    q.stop()
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(view)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


# Python-state accumulation order only perturbs the float total at ~1e-12;
# both engines round a value whose true sum is an exact multiple of 0.01
# (events.value is 2-decimal), so the cent is recovered identically.
STREAM_STATEFUL_SQL = """
SELECT user_id,
       count(*)::BIGINT AS n_events,
       round(sum(coalesce(value, 0.0)), 2) AS total_value
FROM events
GROUP BY user_id
"""


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the LEFT OUTER stream-stream interval join — the
    streaming mode (both sides watermarked; unmatched errors finalize
    and emit null-extended once the watermark passes error_ts +
    interval) is exercised in tests/test_streaming.py with a file
    source and a watermark-advancing sentinel batch."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return jobs.error_purchase_left_interval_join(errors, purchases)


STREAM_LEFT_JOIN_SQL = """
SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id,
       p.event_id IS NOT NULL AS recovered,
       floor(p.value * 100 + 0.5) / 100 AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 1 HOUR
"""


def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed MERGE gated as a REAL stream: the event stream
    drives ``foreach_batch_upsert`` in its conditional ``max_order``
    resolve mode (an existing key's row is replaced only by a greater
    event time, ties broken on event_id), so the final materialized
    table is each user's LATEST event — a pure function of the event
    set, independent of micro-batch boundaries or arrival order. That
    independence is exactly what lets a batch oracle check a streaming
    sink; multi-batch and out-of-order delivery are exercised in
    tests/test_streaming.py with a split file source.

    Scale shape: per batch, one row_number window over (previous ∪
    batch) keyed by user — one shuffle and two Spark jobs. It orders by
    ts, then event_id, then the stored row first, so a full tie keeps
    the stored row. On a lakehouse table this is a true keyed MERGE; the
    parquet-rewrite form here is the portable fallback. Final state is
    |users|-bounded."""
    import os
    import shutil
    import tempfile
    import uuid

    target = os.path.join(tempfile.gettempdir(), f"upsert_latest_{uuid.uuid4().hex}")
    try:
        q = jobs.foreach_batch_upsert(
            jobs.read_events_stream(spark, sf_dir),
            target,
            key="user_id",
            order_col="ts",
            resolve="max_order",
            tiebreak_col="event_id",
        )
        q.stop()
        if not os.path.exists(target):
            # an empty source fires no micro-batch, so the sink never
            # materializes — empty result with the declared schema
            return spark.createDataFrame(
                [], "user_id bigint, ts string, event_type string, value double"
            )
        return (
            spark.read.parquet(target)
            .select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                "event_type",
                F.col("value"),
            )
            .localCheckpoint(eager=True)  # detach from the tmp files before cleanup
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(target + "__old", ignore_errors=True)
        shutil.rmtree(target + "__new", ignore_errors=True)


STREAM_UPSERT_LATEST_SQL = """
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def stream_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained per-type stats table, gated as a REAL
    stream: the event stream drives ``foreach_batch_stats_merge`` —
    every micro-batch's monoid aggregates (count, exact-cents sum,
    min/max ts) MERGE into the persistent summary — and the final
    materialized table must equal the one-shot batch aggregation, the
    streaming face of the corpus datacard. Multi-batch delivery is
    exercised in tests/test_streaming.py with maxFilesPerTrigger=1.

    Scale shape: per batch one groupBy over (batch events ∪ the
    groups-sized table), partially aggregated before its shuffle — state
    lives in storage, never in executor memory, so ingestion is
    unbounded."""
    import os
    import shutil
    import tempfile
    import uuid

    target = os.path.join(tempfile.gettempdir(), f"inc_stats_{uuid.uuid4().hex}")
    try:
        q = jobs.foreach_batch_stats_merge(jobs.read_events_stream(spark, sf_dir), target)
        q.stop()
        if not os.path.exists(target):
            return spark.createDataFrame(
                [],
                "event_type string, n_events bigint, sum_value_cents bigint, "
                "min_ts string, max_ts string",
            )
        return (
            spark.read.parquet(target)
            .select(
                "event_type",
                "n_events",
                "sum_value_cents",
                F.date_format("min_ts", "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
                F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
            )
            .localCheckpoint(eager=True)  # detach from the tmp files before cleanup
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(target + "__old", ignore_errors=True)
        shutil.rmtree(target + "__new", ignore_errors=True)


STREAM_INCREMENTAL_STATS_SQL = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
FROM events
GROUP BY 1
"""
