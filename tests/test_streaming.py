"""Real Structured Streaming runs: the same builders that pass the batch
oracle must produce identical results when driven through readStream over
the events parquet with a memory sink."""

import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_dashboard_project_1_spark.session import load_table
from etl_dashboard_project_1_spark.streaming import jobs

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark):
    batch = jobs.tumbling_counts(load_table(spark, SF, "events"))
    stream = jobs.tumbling_counts(jobs.read_events_stream(spark, SF))
    assert stream.isStreaming
    q = jobs.run_stream_to_memory(stream, "t_tumbling")
    try:
        got = spark.sql("SELECT * FROM t_tumbling")
        cols = ["window_start", "event_type", "n_events", "sum_value"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        q.stop()


def test_session_stream_matches_batch(spark):
    batch = jobs.user_sessions(load_table(spark, SF, "events"))
    stream = jobs.user_sessions(jobs.read_events_stream(spark, SF))
    q = jobs.run_stream_to_memory(stream, "t_sessions")
    try:
        got = spark.sql("SELECT * FROM t_sessions")
        cols = ["session_start", "user_id", "n_events", "sum_value"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        q.stop()


def test_streaming_dedup_drops_replayed_ids(spark):
    stream = jobs.dedup_events(jobs.read_events_stream(spark, SF))
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM t_dedup").first()
        assert n["c"] == n["n"]  # no duplicate ids surfaced
        assert n["n"] > 0
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream interval join (append mode) lands the
    same pairs as the identical builder in batch mode."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events")
    batch = jobs.error_purchase_interval_join(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    s = jobs.read_events_stream(spark, SF)
    stream = jobs.error_purchase_interval_join(
        s.filter(F.col("event_type") == "error"),
        s.filter(F.col("event_type") == "purchase"),
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssjoin")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_ssjoin")
        cols = ["user_id", "error_id", "purchase_id", "purchase_value"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        q.stop()


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    """Streaming the same source twice through the upsert sink converges
    to exactly one row per key (replay-idempotent materialization)."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "upsert_target")
    s = jobs.read_events_stream(spark, SF).select("event_id", "user_id", "value")
    q1 = jobs.foreach_batch_upsert(s, target, key="event_id")
    q1.stop()
    first = spark.read.parquet(target).count()
    s2 = jobs.read_events_stream(spark, SF).select("event_id", "user_id", "value")
    q2 = jobs.foreach_batch_upsert(s2, target, key="event_id")
    q2.stop()
    after = spark.read.parquet(target)
    assert after.count() == first
    distinct_keys = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert first == distinct_keys


def test_windowed_counts_stream_matches_batch(spark):
    """The streamable half of windowed top-k: per-(window, type) counts
    through a real readStream equal the batch expression."""
    batch = jobs.windowed_type_counts(load_table(spark, SF, "events"))
    stream = jobs.windowed_type_counts(jobs.read_events_stream(spark, SF))
    assert stream.isStreaming
    q = jobs.run_stream_to_memory(stream, "t_wtopk")
    try:
        got = spark.sql("SELECT * FROM t_wtopk")
        cols = ["window_start", "event_type", "n_events"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        q.stop()


def test_foreach_batch_upsert_latest_wins(spark, tmp_path):
    """With order_col, within-batch conflicts resolve to the row with the
    greatest version — not an arbitrary dropDuplicates survivor."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src, files = _stage_files(
        tmp_path,
        [[(1, 1, "old"), (1, 2, "new"), (2, 7, "only")]],
        [("k", "int64"), ("version", "int64"), ("payload", "string")],
    )
    _land(src, files[0])  # one file -> one micro-batch
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("payload", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).parquet(src)
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_upsert(stream, target, key="k", order_col="version")
    q.stop()
    got = {r["k"]: (r["version"], r["payload"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: (2, "new"), 2: (7, "only")}


def test_foreach_batch_upsert_max_order_out_of_order_batches(spark, tmp_path):
    """resolve='max_order': a LATER micro-batch carrying an EARLIER
    version must NOT clobber the target (conditional MERGE), and ties on
    the order column break on the tiebreak column — so the final table
    is a pure function of the row set, independent of batching. Two
    files with maxFilesPerTrigger=1 force two out-of-order batches."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("payload", T.StringType()),
    ])
    # staged mtimes ascend, so the file source takes b0 before b1
    src, files = _stage_files(tmp_path, [
        [(1, 5, 10, "newer"), (2, 3, 20, "tie-low")],
        [(1, 4, 11, "stale"), (2, 3, 21, "tie-high"), (3, 1, 30, "fresh-key")],
    ])
    for path in files:
        _land(src, path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_upsert(
        stream, target, key="k", order_col="version",
        resolve="max_order", tiebreak_col="seq",
    )
    q.stop()
    got = {r["k"]: (r["version"], r["payload"])
           for r in spark.read.parquet(target).select("k", "version", "payload").collect()}
    assert got == {1: (5, "newer"), 2: (3, "tie-high"), 3: (1, "fresh-key")}


def test_stream_upsert_latest_matches_batch_argmax(spark):
    """The registered streaming-MERGE gate: the materialized final table
    equals the batch latest-event-per-user argmax."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.plans import streaming_queries as sq

    got = sorted(map(tuple, sq.stream_upsert_latest(spark, SF).collect()))
    ev = load_table(spark, SF, "events")

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = sorted(
        map(
            tuple,
            ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                "event_type",
                "value",
            )
            .collect(),
        )
    )
    assert got == want


def test_foreach_batch_dedup_ingest_across_batches(spark, tmp_path):
    """Cross-batch dedup: a fingerprint admitted in batch 1 blocks every
    later duplicate; within a batch the smallest id wins."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = str(tmp_path / "src")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.StringType()),
    ])
    # two files -> two micro-batches
    spark.createDataFrame([(3, "A"), (1, "A"), (2, "B")], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(9, "A"), (5, "C")], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "corpus")
    q = jobs.foreach_batch_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        target, id_col="doc_id", fingerprint_col="fp",
    )
    q.stop()
    import os
    got = {r["fp"]: r["doc_id"]
           for r in spark.read.parquet(os.path.join(target, "data")).collect()}
    # A admitted once (min id of its first batch), 9 blocked cross-batch
    assert got["A"] in (1, 3) and got["B"] == 2 and got["C"] == 5
    assert len(got) == 3
    n_fp = spark.read.parquet(os.path.join(target, "fingerprints")).count()
    assert n_fp == 3


def test_enrich_static_stream_matches_batch(spark):
    """Stream-static broadcast join: streaming events decorated with the
    static customer/nation dims must equal the batch shape, with no
    watermark or state required (append mode)."""
    cust = load_table(spark, SF, "customer")
    nat = load_table(spark, SF, "nation")
    batch = jobs.enriched_events(load_table(spark, SF, "events"), cust, nat)
    stream = jobs.enriched_events(jobs.read_events_stream(spark, SF), cust, nat)
    assert stream.isStreaming
    q = jobs.run_stream_to_memory(stream, "t_enrich", output_mode="append")
    try:
        got = spark.sql("SELECT * FROM t_enrich")
        cols = ["event_id", "user_id", "event_type", "value", "c_mktsegment", "nation"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        q.stop()


def test_checkpoint_restart_resumes_without_reprocessing(spark, tmp_path):
    """Exactly-once across a QUERY RESTART: a checkpointed stream stopped
    after file A and restarted after file B arrives must process B only
    — the sink ends with each event exactly once (the cluster-crash /
    redeploy story a 100 TB ingestion lives on)."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    half_a.coalesce(1).write.parquet(str(src / "a.parquet"))

    def start():
        s = (
            spark.readStream.schema(jobs.EVENTS_SCHEMA)
            .format("parquet")
            .load(str(src) + "/*")
        )
        return (
            jobs.normalize_event_ts(s)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    n_after_a = spark.read.parquet(str(sink)).count()
    assert n_after_a == half_a.count()

    half_b.coalesce(1).write.parquet(str(src / "b.parquet"))
    q = start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(str(sink))
    assert out.count() == ev.count()  # nothing reprocessed, nothing lost
    assert out.select("event_id").distinct().count() == ev.count()


def test_foreach_batch_lsh_ingest_near_dup_admission(spark, tmp_path):
    """Cross-batch NEAR-dup admission: a later document whose text is a
    near-copy (Jaccard >= 0.5) of an admitted one is rejected even though
    its bytes differ; genuinely new text is admitted; within a batch the
    smaller id wins a verified near-dup pair."""
    import os

    from pyspark.sql import types as T

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"          # J = 10/11 vs base ≈ 0.91
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "src")
    # batch 1: base, an exact in-batch copy (id 3), one distinct doc
    spark.createDataFrame(
        [(1, base), (3, base), (2, "completely different material about databases and storage engines")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: near-copy of base (reject), fresh doc (admit)
    spark.createDataFrame(
        [(9, near), (5, "yet another entirely unrelated document discussing sailing routes")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "corpus")
    q = jobs.foreach_batch_lsh_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        target, id_col="doc_id", text_col="text", threshold=0.5,
    )
    q.stop()
    admitted = {r["doc_id"] for r in spark.read.parquet(os.path.join(target, "data")).collect()}
    assert admitted == {1, 2, 5}
    # the index only holds admitted docs
    idx = {r["_id"] for r in spark.read.parquet(os.path.join(target, "sets")).collect()}
    assert idx == {1, 2, 5}


def test_stream_left_outer_join_finalizes_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows emit
    immediately; UNMATCHED errors emit null-extended only after the
    watermark passes error_ts + interval — driven here by sentinel
    batches that advance the watermark past every original event. Final
    streamed result must equal the batch left join exactly."""
    import shutil

    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "events.parquet"), os.path.join(src_dir, "part0.parquet")
    )
    ev = load_table(spark, SF, "events")
    batch = jobs.error_purchase_left_interval_join(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    raw = (
        spark.readStream.schema(jobs.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    s = jobs.normalize_event_ts(raw)
    stream = jobs.error_purchase_left_interval_join(
        s.filter(F.col("event_type") == "error"),
        s.filter(F.col("event_type") == "purchase"),
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_left_join")
        .start()
    )
    try:
        q.processAllAvailable()
        max_ts = ev.agg(F.max("ts")).first()[0]
        # two sentinel batches advance the watermark past every original
        # event and trigger the eviction batch that emits the finalized
        # null-extended rows. The sentinels must survive the error/
        # purchase FILTERS (each side's watermark node sits after its
        # filter — an 'other'-typed sentinel would advance neither), so
        # they are real error+purchase rows on a disjoint user, excluded
        # from the comparison by id.
        for i, days in enumerate((30, 31)):
            sent = spark.createDataFrame(
                [
                    (10**12 + 2 * i, None, 10**9, "error", 0.0, "{}"),
                    (10**12 + 2 * i + 1, None, 10**9 + 1, "purchase", 0.0, "{}"),
                ],
                "event_id long, ts timestamp_ntz, user_id long, "
                "event_type string, value double, props string",
            ).withColumn(
                "ts",
                (F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS")).cast(
                    "timestamp_ntz"
                ),
            ).select("event_id", "ts", "user_id", "event_type", "value", "props")
            sent.write.mode("append").parquet(src_dir)
            q.processAllAvailable()
        got = spark.sql("SELECT * FROM t_left_join WHERE error_id < 1000000000000")
        cols = ["user_id", "error_id", "purchase_id", "recovered", "purchase_value"]
        assert _rows(got, cols) == _rows(batch, cols)
        # sanity: the outer semantics actually exercised — some errors
        # must be unmatched and present with NULL purchase ids
        assert any(r["purchase_id"] is None for r in got.collect())
    finally:
        q.stop()


def test_eventfeed_python_datasource_streams_deterministically(spark, tmp_path):
    """Custom streaming Python DataSource: rows generate in executors
    per offset-range partition; draining the finite feed must yield
    exactly the deterministic ground truth, once each."""
    from etl_dashboard_project_1_spark.sources import event_stream_datasource as efd

    efd.register(spark)
    stream = (
        spark.readStream.format("eventfeed")
        .option("rowsPerPartition", "64")
        .option("maxOffset", "300")
        .option("numPartitions", "3")
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_eventfeed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["seq"], r["user_id"], r["event_type"], r["value"])
            for r in spark.sql("SELECT * FROM t_eventfeed").collect()
        )
        assert got == efd.expected_rows(300)
    finally:
        q.stop()


def test_eventfeed_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Stop mid-feed, restart from the checkpoint: the second run must
    continue from the committed offset — no duplicates, no gaps (the
    exactly-once property the deterministic offset contract exists for)."""
    from etl_dashboard_project_1_spark.sources import event_stream_datasource as efd

    efd.register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_until_drained(max_offset):
        s = (
            spark.readStream.format("eventfeed")
            .option("rowsPerPartition", "50")
            .option("maxOffset", str(max_offset))
            .load()
        )
        q = (
            s.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_until_drained(150)   # first run drains the feed capped at 150
    # restart from the SAME checkpoint with the feed grown to 300: must
    # resume at the committed offset — rows 150-299 exactly once
    run_until_drained(300)
    got = sorted(
        (r["seq"], r["user_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == efd.expected_rows(300)


def test_foreach_batch_stats_merge_multi_batch_equals_batch(spark, tmp_path):
    """Two out-of-order micro-batches (maxFilesPerTrigger=1) merged
    through the incremental stats sink must equal the one-shot batch
    aggregation of the union — monoid merge makes the final table
    independent of batching."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    rows_b1 = [("click", "2024-01-02 10:00:00", 2.50), ("view", "2024-01-02 11:00:00", 0.75)]
    rows_b2 = [("click", "2024-01-01 09:00:00", 1.25), ("error", "2024-01-03 08:00:00", None)]
    src, files = _stage_files(tmp_path, [_utc(rows_b1), _utc(rows_b2)], _EVENT_ARROW)
    for path in files:
        _land(src, path)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_stats_merge(stream, target)
    q.stop()
    got = {
        r["event_type"]: (r["n_events"], r["sum_value_cents"], r["min_ts"], r["max_ts"])
        for r in spark.read.parquet(target).collect()
    }
    import datetime as dt

    def t(s):
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    assert got == {
        "click": (2, 375, t("2024-01-01 09:00:00"), t("2024-01-02 10:00:00")),
        "view": (1, 75, t("2024-01-02 11:00:00"), t("2024-01-02 11:00:00")),
        "error": (1, None, t("2024-01-03 08:00:00"), t("2024-01-03 08:00:00")),
    }


def test_stream_incremental_stats_matches_batch(spark):
    """The registered incremental-stats gate: the materialized final
    table equals the one-shot batch aggregation over the corpus."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.plans import streaming_queries as sq

    got = sorted(map(tuple, sq.stream_incremental_stats(spark, SF).collect()))
    ev = load_table(spark, SF, "events")
    want = sorted(
        map(
            tuple,
            ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
            )
            .collect(),
        )
    )
    assert got == want


def test_atomic_swap_write_recovers_from_stale_dirs(spark, tmp_path):
    """A crash can leave __old (or __new) behind; the next swap must
    still promote fresh data and clean both side dirs."""
    import os

    target = str(tmp_path / "tgt")
    spark.createDataFrame([(1, "stale")], ["k", "v"]).write.parquet(target)
    spark.createDataFrame([(9, "leftover")], ["k", "v"]).write.parquet(target + "__old")
    spark.createDataFrame([(8, "halfdone")], ["k", "v"]).write.parquet(target + "__new")
    fresh = spark.createDataFrame([(2, "fresh")], ["k", "v"])
    jobs._atomic_swap_write(fresh, target)
    got = [(r["k"], r["v"]) for r in spark.read.parquet(target).collect()]
    assert got == [(2, "fresh")]
    assert not os.path.exists(target + "__old")
    assert not os.path.exists(target + "__new")


def test_stats_merge_uncheckpointed_rerun_refuses(spark, tmp_path):
    """Pointing a fresh UNCHECKPOINTED query at an existing stats target
    must refuse up front: the new run's batch ids restart at 0, so the
    at-least-once replay guard (batch_id <= stored) would silently
    discard every batch of genuinely new data. The table must be left
    untouched by the refused run."""
    import pytest

    target = str(tmp_path / "stats_tgt")
    s1 = jobs.read_events_stream(spark, SF)
    jobs.foreach_batch_stats_merge(s1, target).stop()
    first = {r["event_type"]: (r["n_events"], r["sum_value_cents"])
             for r in spark.read.parquet(target).collect()}
    s2 = jobs.read_events_stream(spark, SF)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        jobs.foreach_batch_stats_merge(s2, target)
    again = {r["event_type"]: (r["n_events"], r["sum_value_cents"])
             for r in spark.read.parquet(target).collect()}
    assert again == first


def test_stats_merge_recovers_mid_swap_crash(spark, tmp_path):
    """Crash window between 'old moved aside' and '__new promoted': only
    __old exists. A checkpointed RESTART (the documented resume pairing:
    same checkpoint_dir + existing target) must restore __old and keep
    accumulating — the engine resumes the batch-id sequence, so the new
    file merges instead of being mistaken for a replay."""
    import os

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "tgt")
    src, files = _stage_files(tmp_path, [
        _utc([("click", "2024-01-01 10:00:00", 1.00)]),
        _utc([("click", "2024-01-02 10:00:00", 2.00)]),
    ], _EVENT_ARROW)
    _land(src, files[0])
    jobs.foreach_batch_stats_merge(
        spark.readStream.schema(schema).parquet(src), target, checkpoint_dir=ckpt
    ).stop()
    # simulate the crash window: target moved aside, promotion never happened
    os.rename(target, target + "__old")
    _land(src, files[1])
    jobs.foreach_batch_stats_merge(
        spark.readStream.schema(schema).parquet(src), target, checkpoint_dir=ckpt
    ).stop()
    got = {r["event_type"]: (r["n_events"], r["sum_value_cents"])
           for r in spark.read.parquet(target).collect()}
    assert got == {"click": (2, 300)}  # both events survive the crash window


def test_stats_merge_replayed_batch_id_is_noop(spark, tmp_path):
    """At-least-once redelivery inside a CHECKPOINTED run: a batch whose
    id is <= the stored _last_batch_id must merge as a no-op. Simulated
    by inflating the stored id so the resumed query's next (genuinely
    new) batch arrives with a stale id — the totals must not change."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "tgt")
    src, files = _stage_files(tmp_path, [
        _utc([("click", "2024-01-01 10:00:00", 1.00)]),
        _utc([("click", "2024-01-02 10:00:00", 2.00)]),
    ], _EVENT_ARROW)
    _land(src, files[0])
    jobs.foreach_batch_stats_merge(
        spark.readStream.schema(schema).parquet(src), target, checkpoint_dir=ckpt
    ).stop()
    # pretend the stored table is already ahead of whatever the engine
    # will deliver next (the redelivered-batch state)
    inflated = spark.read.parquet(target).withColumn(
        "_last_batch_id", F.lit(999_999).cast("long")
    )
    tmp_out = target + "__inflate"
    inflated.write.parquet(tmp_out)
    import shutil

    shutil.rmtree(target)
    os.rename(tmp_out, target)
    before = {r["event_type"]: (r["n_events"], r["sum_value_cents"])
              for r in spark.read.parquet(target).collect()}
    _land(src, files[1])
    jobs.foreach_batch_stats_merge(
        spark.readStream.schema(schema).parquet(src), target, checkpoint_dir=ckpt
    ).stop()
    after = {r["event_type"]: (r["n_events"], r["sum_value_cents"])
             for r in spark.read.parquet(target).collect()}
    assert after == before  # stale batch id -> merge skipped, no double count


def test_stats_merge_uncheckpointed_rerun_refuses_after_crash_window(spark, tmp_path):
    """The uncheckpointed-rerun guard must also fire when only the __old
    crash remnant exists: _recover_target would otherwise restore the
    table (with its stored batch id) AFTER a target-only existence check
    had passed, re-opening the silent-drop hole."""
    import os

    import pytest

    target = str(tmp_path / "stats_tgt")
    jobs.foreach_batch_stats_merge(jobs.read_events_stream(spark, SF), target).stop()
    os.rename(target, target + "__old")  # mid-swap crash state
    with pytest.raises(ValueError, match="checkpoint_dir"):
        jobs.foreach_batch_stats_merge(jobs.read_events_stream(spark, SF), target)


def test_lsh_ingest_single_batch_equals_batch_reject_rule(spark, tmp_path):
    """Batch equivalence for the streaming LSH ingest (r9 verdict item 6:
    the streaming face of near-dup dedup must provably compute the BATCH
    semantics where the two are defined to agree): on ONE micro-batch —
    where arrival order cannot differ from id order — the admitted set
    must equal the batch rule derived from ``dedup.minhash_lsh_pairs``
    with identical parameters: reject every doc that is a VERIFIED
    near-dup (true Jaccard ≥ threshold) of a smaller-id doc. Run on the
    real documents table. Across MULTIPLE batches the two legitimately
    diverge (streaming checks against admitted docs only; batch sees the
    full corpus) — that asymmetry is the ingest's documented fail-open
    contract, not an equivalence bug."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import dedup

    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    params = dict(k=3, num_hashes=8, band_size=2, threshold=0.5)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)  # one file -> one micro-batch

    target = str(tmp_path / "corpus")
    q = jobs.foreach_batch_lsh_ingest(
        spark.readStream.schema(docs.schema).parquet(src),
        target, id_col="doc_id", text_col="text", **params,
    )
    q.stop()
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(target, "data")).collect()
    }
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", **params)
    rejected = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    want = {r["doc_id"] for r in docs.collect()} - rejected
    assert admitted == want


def test_dedup_ingest_ordered_arrival_equals_batch_exact(spark, tmp_path):
    """Batch equivalence for the streaming exact-dedup ingest: when ids
    arrive in id order (batch 1 ids < batch 2 ids — the monotonic-ingest
    shape), the landed corpus must be exactly the batch
    ``exact_dedup_groups`` keep-set (min id per normalized fingerprint),
    including reordered-token duplicates that byte equality misses."""
    from pyspark.sql import types as T

    from etl_dashboard_project_1_spark.operators import dedup

    rows1 = [
        (1, "alpha beta gamma"),
        (2, "delta epsilon zeta"),
        (3, "gamma beta alpha"),          # reorder-dup of 1
        (4, "unique early document"),
    ]
    rows2 = [
        (11, "delta epsilon zeta"),        # exact dup of 2, cross-batch
        (12, "genuinely new material"),
        (13, "early unique document"),     # reorder-dup of 4, cross-batch
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("fp", dedup.normalized_fingerprint("text"))
    )
    target = str(tmp_path / "corpus")
    q = jobs.foreach_batch_dedup_ingest(
        stream, target, id_col="doc_id", fingerprint_col="fp"
    )
    q.stop()
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(target, "data")).collect()
    }
    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        r["keep_id"]
        for r in dedup.exact_dedup_groups(batch, "doc_id", "text").collect()
    }
    assert admitted == want == {1, 2, 4, 12}


_KV_SCHEMA = "k bigint, version bigint, seq bigint, payload string"
_KV_ARROW = [("k", "int64"), ("version", "int64"), ("seq", "int64"), ("payload", "string")]


#: the events columns Spark stages for the stats-merge sink (TimestampType
#: is a UTC-adjusted microsecond timestamp in parquet)
_EVENT_ARROW = [("event_type", "string"), ("ts", pa.timestamp("us", tz="UTC")), ("value", "double")]


def _utc(rows):
    """``(event_type, "YYYY-mm-dd HH:MM:SS", value)`` rows with ``ts`` as
    a UTC datetime (the session time zone)."""
    import datetime as dt

    return [
        (e, dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc), v)
        for e, ts, v in rows
    ]


def _stage_files(tmp_path, batches, fields=_KV_ARROW):
    """One parquet file per list of rows (``(k, version, seq, payload)``
    by default), staged outside the source directory; returns
    ``(src, files)``. A file renamed into ``src`` is the next micro-batch;
    files landed together are taken in staging order (their mtimes
    ascend one second apart)."""
    import time

    import pyarrow.parquet as pq

    src, staged = tmp_path / "src", tmp_path / "staged"
    src.mkdir()
    staged.mkdir()
    schema = pa.schema(
        [(name, pa.type_for_alias(t) if isinstance(t, str) else t) for name, t in fields]
    )
    t0 = time.time_ns() - len(batches) * 10**9
    files = []
    for i, rows in enumerate(batches):
        files.append(str(staged / f"b{i}.parquet"))
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema), files[-1])
        os.utime(files[-1], ns=(t0 + i * 10**9, t0 + i * 10**9))
    return str(src), files


def _land(src, path):
    os.rename(path, os.path.join(src, os.path.basename(path)))


def _stream(spark, src, schema=_KV_SCHEMA):
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def _land_batches(spark, q, src, files):
    """Land each file and drain it as one micro-batch (landing them all
    at once would order the batches by file mtime, which can tie);
    returns each batch's (jobs, stages). Stops ``q`` at the end."""
    from tests.oracle_harness import count_jobs

    budgets = []
    try:
        for path in files:
            _land(src, path)
            with count_jobs(spark, str(q.runId)) as n:
                q.processAllAvailable()
            assert q.lastProgress["numInputRows"] > 0
            budgets.append((n.jobs, n.stages))
    finally:
        q.stop()
    return budgets


def test_upsert_micro_batch_job_budget(spark, tmp_path):
    """Once the target exists, an upsert micro-batch is one shuffle: at
    most 2 Spark jobs (shuffle map, write) and 3 stages (the write job
    lists the map stage again, skipped). A footer-reading schema job or a
    second window would break the budget."""
    rows = [[(k, v, v, f"p{v}") for k in range(4)] for v in range(3)]
    src, files = _stage_files(tmp_path, rows)
    _land(src, files[0])
    q = jobs.foreach_batch_upsert(
        _stream(spark, src), str(tmp_path / "tgt"), key="k", order_col="version",
        resolve="max_order", tiebreak_col="seq",
    )
    budgets = _land_batches(spark, q, src, files[1:])
    assert all(j <= 2 and s <= 3 for j, s in budgets), budgets
    got = {r["k"]: r["payload"] for r in spark.read.parquet(str(tmp_path / "tgt")).collect()}
    assert got == {k: "p2" for k in range(4)}


def test_stats_merge_micro_batch_job_budget(spark, tmp_path):
    """Once the target exists, a stats-merge micro-batch reads neither the
    schema nor the stored batch id, and one groupBy folds the batch into
    the table: at most 2 Spark jobs and 3 stages, like the upsert sink."""
    import datetime as dt

    schema = "event_type string, ts timestamp, value double"
    rows = [[("click", dt.datetime(2024, 1, 1 + i, 10), 1.0 + i)] for i in range(3)]
    fields = [("event_type", "string"), ("ts", "timestamp[us]"), ("value", "float64")]
    src, files = _stage_files(tmp_path, rows, fields)
    _land(src, files[0])
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_stats_merge(_stream(spark, src, schema), target)
    budgets = _land_batches(spark, q, src, files[1:])
    assert all(j <= 2 and s <= 3 for j, s in budgets), budgets
    (row,) = spark.read.parquet(target).collect()
    assert (row["n_events"], row["sum_value_cents"], row["_last_batch_id"]) == (3, 600, 2)


def test_upsert_replace_later_batch_wins(spark, tmp_path):
    """resolve='replace': a later batch replaces the key even with a lower
    order_col; within a batch the greatest order_col wins."""
    src, files = _stage_files(tmp_path, [
        [(1, 9, 0, "first"), (2, 5, 0, "kept")],
        [(1, 2, 0, "low"), (1, 3, 0, "second"), (1, 1, 0, "lowest")],
    ])
    _land(src, files[0])
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_upsert(_stream(spark, src), target, key="k", order_col="version")
    _land_batches(spark, q, src, files[1:])
    got = {r["k"]: (r["version"], r["payload"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: (3, "second"), 2: (5, "kept")}


def test_upsert_max_order_full_tie_keeps_existing_row(spark, tmp_path):
    """resolve='max_order': an incoming row that ties the stored row on
    order_col and tiebreak_col does not replace it."""
    src, files = _stage_files(tmp_path, [
        [(1, 5, 7, "existing")],
        [(1, 5, 7, "incoming")],
    ])
    _land(src, files[0])
    target = str(tmp_path / "tgt")
    q = jobs.foreach_batch_upsert(
        _stream(spark, src), target, key="k", order_col="version",
        resolve="max_order", tiebreak_col="seq",
    )
    _land_batches(spark, q, src, files[1:])
    got = [(r["k"], r["payload"]) for r in spark.read.parquet(target).collect()]
    assert got == [(1, "existing")]


def test_upsert_fresh_run_rejects_target_with_other_columns(spark, tmp_path):
    """A new run over an existing target whose columns differ from the
    stream's fails its first batch instead of reading the missing column
    as nulls, and leaves the target as it was."""
    import pytest
    from pyspark.errors import StreamingQueryException

    target = str(tmp_path / "tgt")
    spark.createDataFrame([(1, 4)], "k bigint, version bigint").write.parquet(target)
    src, files = _stage_files(tmp_path, [[(1, 5, 0, "new")]])
    _land(src, files[0])
    with pytest.raises(StreamingQueryException, match="payload|seq|UNION|NUM_COLUMNS"):
        jobs.foreach_batch_upsert(
            _stream(spark, src), target, key="k", order_col="version").stop()
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(1, 4)]
