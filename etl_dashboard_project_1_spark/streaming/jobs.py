"""Structured Streaming jobs over the events table (SURVEY.md §2.13 — the
reference is batch-only; streaming is the north-star extension).

Every transformation here is defined once and runs in BOTH modes: the
builders take any events DataFrame — a batch ``spark.read`` or a
``spark.readStream`` — because tumbling/session windows and watermark-based
dedup are identical expressions in Spark's unified model. The batch shape
is what the DuckDB oracle checks; the streaming shape is exercised by
tests with a file source + memory sink.

Scale notes: windowed aggregations are keyed state — state size is bounded
by (watermark horizon × key cardinality), not stream length;
``dropDuplicatesWithinWatermark`` keeps dedup state bounded the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # parquet TIMESTAMP(NANOS): Spark 4.1 reads it as TIMESTAMP_NTZ
        # (micros truncation) — declare NTZ and normalize to TimestampType
        # below. (A LongType declaration yields MICROS under 4.1, not the
        # nanos the old nanosAsLong shim assumed — silently 1000x off.)
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """nanos-parquet ts → session-TZ microsecond timestamp (mirrors
    session.load_table): ns-longs divide exactly (`div`, not `/` — double
    division skews ±1µs at ns magnitudes); NTZ casts in the session TZ
    (UTC everywhere in this engine)."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_stream(spark, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet (one file = one
    micro-batch in tests; object-store directories at scale).

    ``events.parquet`` may be a single FILE (the driver's testdata) or a
    DIRECTORY of part files (any Spark-written dataset, e.g. the
    scale-stress replicas). The file source's basePath must be a
    directory, so: directory layout → load it directly (all its part
    files stream); file layout → load the parent with a glob-filter on
    the file name. The old unconditional glob-filter silently matched
    ZERO part files in the directory layout and streamed nothing.

    The layout probe goes through the Hadoop FileSystem of the path's
    scheme (not ``os.path``), so object-store URIs (s3a://, gs://, …)
    take the directory branch correctly instead of silently falling
    into the file-glob branch and streaming nothing."""
    path = sf_dir.rstrip("/") + "/events.parquet"
    reader = spark.readStream.schema(EVENTS_SCHEMA).format("parquet")
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        is_dir = bool(fs.isDirectory(jpath))
    except AttributeError:
        # Spark Connect session: no _jvm bridge. Connect callers only ever
        # hand us local filesystem paths, so os.path answers the same
        # question (object-store URIs require the classic JVM probe).
        import os

        is_dir = os.path.isdir(path)
    if is_dir:
        raw = reader.load(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return normalize_event_ts(raw)


def tumbling_counts(
    events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window count/sum per event type. In streaming mode the
    watermark bounds state and admits late data up to its horizon."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window average value per event type."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    # EXACT-integer average: avg(value)·10⁴ = Σcents·100 / n, with the
    # cent sum and non-null count both exact BIGINTs and ONE float
    # division at the end. The previous floor-form `avg(value)` still
    # summed doubles, whose engine-specific accumulation order decides
    # the floor whenever a window's true average lands exactly on a
    # 1e-4 half boundary (caught by the sf0.1 sweep: 100.94625 flipped
    # .9462 vs .9463 between engines).
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(F.window("ts", width, slide), "event_type")
        .agg(
            F.sum(cents).alias("_sc"),
            F.count("value").alias("_nv"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "avg_value",
            F.when(
                F.col("_nv") > 0,
                F.floor((F.col("_sc") * 100.0) / F.col("_nv") + 0.5) / 10000,
            ),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


def user_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: events merge while consecutive gaps stay
    under ``gap``."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exactly-once-per-id dedup. Streaming: state bounded by the watermark
    horizon (dropDuplicatesWithinWatermark); batch: plain dropDuplicates."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value total) maintained in explicit
    state across micro-batches, emitting the updated totals whenever a
    batch touches the user.

    State is one tiny row per user — bounded by key cardinality, the
    pattern for arbitrary stateful logic Spark's built-in aggregates can't
    express. Works only in streaming mode (batch callers: groupBy.agg)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str | None = None):
    """Drive a streaming query to completion against the file source and
    land results in an in-memory table (test harness). Aggregating queries
    default to ``complete``; stateless (map/join-only) streams must use
    ``append`` — pass it explicitly."""
    if output_mode is None:
        output_mode = "complete" if stream_df.isStreaming else "append"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    _drain_or_stop(q)
    return q


def error_purchase_interval_join(
    errors: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: purchases of the same
    user within one hour AFTER an error. In streaming mode BOTH sides are
    watermarked and the join condition bounds event-time distance, so each
    side's buffered state is capped at (watermark + interval) per key —
    the canonical bounded-state stream-stream join. In batch mode the
    identical expressions compile to an equi join + range filter."""
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if errors.isStreaming:
        e = e.withWatermark("error_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("e_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("error_ts"))
        & (F.col("purchase_ts") < F.col("error_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return e.join(p, cond).select(
        F.col("e_user").alias("user_id"), "error_id", "purchase_id",
        # floor-based rounding: identical IEEE semantics in any engine
        (F.floor(F.col("purchase_value") * 100 + 0.5) / 100).alias("purchase_value"),
    )


def error_purchase_left_interval_join(
    errors: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every error row emits,
    carrying its recovery purchase (same user within one hour after) or
    NULLs when none arrives. The outer side is the streaming-specific
    semantics: an unmatched error can only be FINALIZED once the
    watermark passes error_ts + interval — Spark buffers it until then
    and emits the null-extended row in a later micro-batch. State stays
    capped at (watermark + interval) per key exactly like the inner
    form (`error_purchase_interval_join`); in batch mode the identical
    expressions compile to a plain left equi join + range filter."""
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if errors.isStreaming:
        e = e.withWatermark("error_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("e_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("error_ts"))
        & (F.col("purchase_ts") < F.col("error_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return e.join(p, cond, "left_outer").select(
        F.col("e_user").alias("user_id"),
        "error_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("recovered"),
        (F.floor(F.col("purchase_value") * 100 + 0.5) / 100).alias("purchase_value"),
    )


def foreach_batch_upsert(
    stream_df: DataFrame,
    target_dir: str,
    key: str,
    order_col: str | None = None,
    resolve: str = "replace",
    tiebreak_col: str | None = None,
):
    """Incremental streaming sink: every micro-batch is MERGEd into a
    parquet target (new keys inserted, existing keys replaced) via
    ``foreachBatch`` — the standard pattern for idempotent incremental
    materialization on stores without native MERGE. Each batch rewrites
    the target from (previous ∪ batch); on a lakehouse table this becomes
    a true keyed MERGE with no rewrite.

    One ``row_number`` window over (batch ∪ target), partitioned by
    ``key``, keeps rank 1; a ``_src`` column marks batch rows 0 and target
    rows 1. It settles conflicts within the batch and against the target
    at once: one shuffle, two Spark jobs (shuffle map, write) per batch.
    Within a batch the greatest ``order_col`` wins, ties broken on
    ``tiebreak_col`` descending; without ``order_col`` any row may win.

    ``resolve`` governs CROSS-batch conflicts. ``"replace"`` (default,
    ordered by ``_src`` then ``order_col``) is last-batch-wins — right
    for an ordered changelog. ``"max_order"`` (ordered by ``order_col``,
    ``tiebreak_col``, then ``_src`` descending) replaces an existing row
    only with a greater incoming order; on a full tie the existing row is
    kept. It makes the final table a pure function of the event set,
    whatever the arrival order (the equality the oracle gate checks).

    The target is read with the schema this sink last wrote, so no batch
    runs a footer-reading schema job. Only a run's first batch over an
    existing target infers it, and ``unionByName`` then rejects a target
    whose columns differ instead of reading missing ones as nulls."""
    import os

    from pyspark.sql import Window

    if resolve not in ("replace", "max_order"):
        raise ValueError(f"unknown resolve mode {resolve!r}")
    if resolve == "max_order" and order_col is None:
        # silently falling back to replace would let an out-of-order batch
        # clobber newer rows — the exact corruption this mode exists to stop
        raise ValueError("resolve='max_order' requires order_col")
    order = [F.desc(c) for c in (order_col, tiebreak_col) if c] if order_col else []
    rank = order + [F.desc("_src")] if resolve == "max_order" else [F.asc("_src")] + order
    w = Window.partitionBy(key).orderBy(*rank)
    known = None  # schema of the table this sink last wrote

    def do_upsert(batch_df: DataFrame, batch_id: int):
        nonlocal known
        spark = batch_df.sparkSession
        _recover_target(target_dir)
        rows = batch_df.withColumn("_src", F.lit(0))
        if known is not None or os.path.exists(target_dir):
            reader = spark.read if known is None else spark.read.schema(known)
            current = reader.parquet(target_dir).withColumn("_src", F.lit(1))
            rows = rows.unionByName(current)
        merged = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        _atomic_swap_write(merged, target_dir)
        known = merged.schema

    q = stream_df.writeStream.outputMode("update").foreachBatch(do_upsert).start()
    _drain_or_stop(q)
    return q


def _drain_or_stop(q) -> None:
    """processAllAvailable, stopping the query instead of leaving it
    running if the drain raises (a failed batch otherwise strands a live
    StreamingQuery handle behind the exception)."""
    try:
        q.processAllAvailable()
    except Exception:
        try:
            q.stop()
        except Exception:
            pass  # a failing stop() must not mask the drain's root cause
        raise


def _recover_target(target_dir: str) -> None:
    """Crash recovery for the swap protocol: a crash between 'move old
    aside' and 'promote __new' leaves NO target and a complete __old —
    restore it BEFORE any read, or the accumulated state silently resets
    to the next batch (and the next swap would delete the only copy)."""
    import os

    old_dir = target_dir + "__old"
    if not os.path.exists(target_dir) and os.path.exists(old_dir):
        os.rename(old_dir, target_dir)


def _atomic_swap_write(df: DataFrame, target_dir: str) -> None:
    """Overwrite ``target_dir`` with ``df`` via write-new → swap. The swap
    order matters for crash-safety: move the old target ASIDE first, then
    promote __new, then delete the old copy — a crash between steps
    always leaves a readable target or a recoverable __old (restored by
    ``_recover_target`` before the next read), never a window with no
    data (object stores use versioned/committed writes instead)."""
    import os
    import shutil

    _recover_target(target_dir)
    df.write.mode("overwrite").format("parquet").save(target_dir + "__new")
    old_dir = target_dir + "__old"
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)
    if os.path.exists(target_dir):
        os.rename(target_dir, old_dir)
    os.rename(target_dir + "__new", target_dir)
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)


def foreach_batch_stats_merge(
    stream_df: DataFrame,
    target_dir: str,
    by: str = "event_type",
    checkpoint_dir: str | None = None,
):
    """Incrementally-maintained summary table: each event is a one-row
    MONOID value (count, exact-cents sum, min/max event time) and one
    groupBy folds a micro-batch into the persistent stats table —
    sum-of-sums, min-of-mins, max-of-maxes. Because every aggregate is
    associative and commutative, the final table is a pure function of
    the event set, independent of micro-batch boundaries or arrival
    order — which is exactly what lets a batch oracle check it.

    This is the production shape for release-stats that update as data
    lands (the streaming face of ``corpus_datacard``): state is the
    groups-sized table itself, not executor memory, so ingestion can run
    forever; on a lakehouse table the overwrite becomes a keyed MERGE.
    Value sums are exact BIGINT cents (events.value is 2-decimal), so
    merge order can never perturb a float.

    An additive merge is NOT naturally idempotent under foreachBatch's
    at-least-once delivery (a retried batch would double-count, unlike
    the keyed upsert), so the table carries the last applied batch id
    and a replayed ``batch_id <= stored`` merge is a no-op. Within one
    query run batch ids are monotone; to RESUME over an existing target
    after a restart, pass the ``checkpoint_dir`` that produced it (the
    engine then continues the batch-id sequence instead of restarting
    at 0 and re-reading everything). An UNCHECKPOINTED call against an
    existing target raises up front — its ids would restart at 0 and
    the replay guard would silently drop every batch of new data.

    As in ``foreach_batch_upsert`` the target is read with its last-written
    schema. The stored batch id is read only on a run's first batch; later
    ones compare against the id this sink last wrote (a restart starts over)."""
    import os

    if checkpoint_dir is None and (
        os.path.exists(target_dir) or os.path.exists(target_dir + "__old")
    ):
        # An uncheckpointed run restarts batch ids at 0, so the replay
        # guard (batch_id <= stored) would silently no-op EVERY batch of
        # new source data against the existing table — refuse instead of
        # dropping data. The __old probe covers the mid-swap crash state:
        # _recover_target would restore that table (with its stored batch
        # id) AFTER a target-only existence check had already passed.
        raise ValueError(
            f"target {target_dir!r} (or its __old crash remnant) already "
            "exists but no checkpoint_dir was given: a fresh query's batch "
            "ids restart at 0 and the replay guard would discard every "
            "batch. Pass the checkpoint_dir that produced the table "
            "(resume) or remove the target (rebuild)."
        )

    known = None  # (schema, batch id) of the table this sink last wrote

    def do_merge(batch_df: DataFrame, batch_id: int):
        nonlocal known
        spark = batch_df.sparkSession
        _recover_target(target_dir)
        current = stored = None
        if known is not None:
            schema, stored = known
            current = spark.read.schema(schema).parquet(target_dir)
        elif os.path.exists(target_dir):
            current = spark.read.parquet(target_dir)
            stored = current.agg(F.max("_last_batch_id")).first()[0]
        if stored is not None and batch_id <= stored:
            return  # at-least-once replay of an already-applied batch
        part = batch_df.select(
            by,
            F.lit(1).cast("long").alias("n_events"),
            F.round(F.col("value") * 100).cast("long").alias("sum_value_cents"),
            F.col("ts").alias("min_ts"),
            F.col("ts").alias("max_ts"),
        )
        if current is not None:
            part = part.unionByName(current.drop("_last_batch_id"))
        merged = (
            part.groupBy(by)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_cents").alias("sum_value_cents"),
                F.min("min_ts").alias("min_ts"),
                F.max("max_ts").alias("max_ts"),
            )
            .withColumn("_last_batch_id", F.lit(batch_id).cast("long"))
        )
        _atomic_swap_write(merged, target_dir)
        known = (merged.schema, batch_id)

    writer = stream_df.writeStream.outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.foreachBatch(do_merge).start()
    _drain_or_stop(q)
    return q


def windowed_type_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-(tumbling window, event_type) counts — the streamable half of
    windowed top-k. Streaming top-N cannot rank inside the engine's
    append-mode aggregation (ranking needs the window CLOSED), so the
    standard pattern splits: this watermarked aggregate runs in the
    stream; the rank-and-keep-k step runs on the closed windows (batch
    query below, or a foreachBatch/serving-side pass)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def foreach_batch_dedup_ingest(
    stream_df: DataFrame, target_dir: str, id_col: str, fingerprint_col: str
):
    """Continuous-ingestion dedup: each micro-batch lands ONLY documents
    whose content fingerprint has never been seen — in this batch or any
    earlier one — by anti-joining against a persistent fingerprint store
    and appending survivors (data + fingerprints) to the target.

    This is the streaming face of exact dedup for a training corpus that
    ingests forever: watermarked ``dropDuplicates`` state would grow
    without bound across days of ingestion, so the seen-set lives in
    storage, not executor state. Within a batch, the smallest id per
    fingerprint wins (deterministic). At scale the store is partitioned
    by a fingerprint prefix so the anti join prunes to matching buckets.
    """
    import os

    from pyspark.sql import Window

    data_dir = os.path.join(target_dir, "data")
    fp_dir = os.path.join(target_dir, "fingerprints")

    def do_ingest(batch_df: DataFrame, batch_id: int):
        from pyspark.sql import functions as SF

        spark = batch_df.sparkSession
        w = Window.partitionBy(fingerprint_col).orderBy(SF.asc(id_col))
        fresh = (
            batch_df.withColumn("_rn", SF.row_number().over(w))
            .filter(SF.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.exists(fp_dir):
            seen = spark.read.parquet(fp_dir)
            fresh = fresh.join(seen, on=fingerprint_col, how="left_anti")
        # data first, fingerprints second: a crash between the writes can
        # leave a doc whose fingerprint is unrecorded (re-ingested next
        # time, then dropped by the id tie-break downstream) — never a
        # fingerprint that blocks a doc that was never written
        fresh.write.mode("append").parquet(data_dir)
        fresh.select(fingerprint_col).write.mode("append").parquet(fp_dir)

    q = stream_df.writeStream.outputMode("append").foreachBatch(do_ingest).start()
    _drain_or_stop(q)
    return q


def enriched_events(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment: each event picks up its
    customer's segment and nation. In streaming mode this is the
    zero-state append pattern — the static side broadcasts once per
    micro-batch, no watermark, no state store; the canonical way to
    decorate a 100 TB/day stream with dimension attributes."""
    from pyspark.sql import functions as F

    dim = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", "c_mktsegment", F.col("n_name").alias("nation"))
    return events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"], "left"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        "c_mktsegment",
        "nation",
    )


def foreach_batch_lsh_ingest(
    stream_df: DataFrame,
    target_dir: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
):
    """Continuous-ingestion NEAR-dup admission — the streaming face of
    ``dedup.minhash_lsh_pairs``, for a training corpus that ingests
    forever. Each micro-batch admits only documents with no VERIFIED
    near-duplicate (true shingle Jaccard ≥ threshold) among (a) documents
    admitted in any earlier batch and (b) smaller-id documents of the
    same batch; everything else lands in the corpus plus the index.

    Like the exact-fingerprint ingest, state lives in STORAGE, not
    executor memory (watermarked streaming state would grow without bound
    across days): the persistent index is a band store (band, bh, id) —
    bucket collisions generate candidates — and a sets store
    (id, word-gram set) that verifies them. Per-batch cost tracks
    bucket collisions, never |corpus| × |batch|; at scale both stores
    partition by band / id-prefix so the joins prune to touched buckets.

    Write order (data → sets → bands) fails open like the exact ingest:
    a crash mid-batch can admit a near-dup later (re-verified against
    whatever WAS indexed), never silently drop an unseen document.
    """
    import os

    from ..operators import dedup

    data_dir = os.path.join(target_dir, "data")
    sets_dir = os.path.join(target_dir, "sets")
    bands_dir = os.path.join(target_dir, "bands")

    def do_ingest(batch_df: DataFrame, batch_id: int):
        from pyspark.sql import functions as SF

        spark = batch_df.sparkSession
        ss = dedup.shingle_sets(batch_df, id_col, text_col, k)
        bands = dedup.minhash_band_table(
            batch_df, id_col, text_col, k, num_hashes, band_size, shingle_sets_df=ss
        )

        def rejected_ids(cand, seen_sets):
            # _idb: the batch doc that a verified near-dup _ida rejects
            return dedup.verified_pairs(
                cand, "_ida", seen_sets, "_idb", ss, threshold
            ).select(SF.col("_idb").alias("_rej"))

        # (a) within-batch: smaller id wins any verified near-dup pair
        a, b = bands.alias("a"), bands.alias("b")
        cand_in = (
            a.join(b, (SF.col("a._band") == SF.col("b._band"))
                   & (SF.col("a._bh") == SF.col("b._bh"))
                   & (SF.col("a._id") < SF.col("b._id")))
            .select(SF.col("a._id").alias("_ida"), SF.col("b._id").alias("_idb"))
            .distinct()
        )
        rejected = rejected_ids(cand_in, ss)
        # (b) cross-batch: collide new bands against the persistent index
        if os.path.exists(bands_dir):
            seen_bands = spark.read.parquet(bands_dir)
            cand_x = (
                bands.join(seen_bands, ["_band", "_bh"])
                .select(SF.col("_seen_id").alias("_ida"), SF.col("_id").alias("_idb"))
                .distinct()
            )
            rejected = rejected.unionByName(
                rejected_ids(cand_x, spark.read.parquet(sets_dir))
            )
        admitted = batch_df.join(
            rejected.distinct().withColumnRenamed("_rej", id_col), id_col, "left_anti"
        )
        admitted.write.mode("append").parquet(data_dir)
        ss.join(admitted.select(SF.col(id_col).alias("_id")), "_id").write.mode(
            "append"
        ).parquet(sets_dir)
        bands.withColumnRenamed("_id", "_seen_id").join(
            admitted.select(SF.col(id_col).alias("_seen_id")), "_seen_id"
        ).write.mode("append").parquet(bands_dir)

    q = stream_df.writeStream.outputMode("append").foreachBatch(do_ingest).start()
    _drain_or_stop(q)
    return q
