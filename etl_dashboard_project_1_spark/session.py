"""SparkSession factory + testdata table registry.

Reference parity: the reference has no session concept (eager pandas in one
process, /root/reference/src/transform_pipeline.py). Here the session is the
engine entry point; config is tuned so the same code runs on local[N] for
tests and on a real cluster unchanged (only master/memory differ).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

# Tables the driver generates (TESTDATA.md). One parquet file each.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def get_spark(
    app_name: str = "etl_dashboard_project_1_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    - AQE on: runtime partition coalescing + skew-join handling mean the
      same plan survives sf0.001 and a 1000-executor cluster.
    - shuffle.partitions ~= cores locally (the 200 default over-splits
      small data and under-splits huge data; on a real cluster AQE
      re-coalesces anyway).
    - UTC session timezone so results are comparable with the DuckDB
      oracle (naive timestamps).
    - Arrow on for every pandas interchange (Pandas UDFs, toPandas).
    - Streaming checkpoint logs are written through
      ``FileSystemBasedCheckpointFileManager``: under a third of the
      per-batch log cost on a local disk, and the same atomicity for
      those write-once files (the argument is at the conf below).
    - Python workers get this package's parent directory on their
      ``PYTHONPATH`` (merged with the worker's own), so UDFs that
      reference package functions run whatever the caller's working
      directory or environment.

    ``cpus`` defaults to ``SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on. ``getOrCreate`` hands back a live session as it is, master
    included; if that master is not the requested one, this warns once
    per (requested, live) pair and returns the live session.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    shuffle_partitions = shuffle_partitions or cpus
    master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is byte-based; its 1 MB minPartitionSize floor
        # serializes CPU-dense/byte-light stages (e.g. a few MB of
        # candidate pairs each carrying a 64-dim cosine) onto 2-4 tasks.
        # A 64k floor lets parallelismFirst keep up to `cpus` partitions
        # for such stages (measured: emb_pair_cosine_hist 8.0->3.2 s,
        # dedup_ngram_jaccard 6.5->3.5 s at sf0.1). Scale-neutral: on
        # real data post-shuffle partitions are >> 1 MB and the floor
        # never binds; env-overridable for clusters that want the
        # stock value back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level join pruning: build a bloom filter from the
        # selective side of a shuffle join and push it into the probe
        # side's scan — at cluster scale this prunes fact-table IO that
        # static predicate pushdown can't see
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as long (ns since epoch) and convert in the
        # loader (micros precision — ties broken by event_id downstream).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming offset/commit/source logs through the FileSystem API:
        # the latestOffset, walCommit and commitOffsets phases of a
        # micro-batch took about 30 ms instead of about 105 ms through the
        # default FileContext manager (local disk, 4 CPUs). Spark 4.1 writes
        # every batch file of those logs once (HDFSMetadataLog.write,
        # overwriteIfPossible=false), into a temp file renamed into
        # place, so readers never see a partial file on local FS or HDFS
        # under either manager; a second writer of the same batch fails
        # on the destination-exists check (HDFS rename also refuses an
        # existing file). Object stores have no atomic rename under
        # either manager.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    live = spark.sparkContext.master
    if live != master and (master, live) not in _MASTER_WARNED:
        _MASTER_WARNED.add((master, live))
        warnings.warn(
            f"get_spark asked for master {master} but reuses the live session "
            f"on {live}; stop that session first to get {master}",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


#: the directory that holds this package: Python workers import it from here
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (requested, live) master pairs already warned about
_MASTER_WARNED: set[tuple[str, str]] = set()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Per-session DataFrame memo: a parquet load costs ~100ms of footer/schema
# reads, and registry sweeps / bench runs re-load the same tables hundreds
# of times. DataFrames are immutable plans, so handing back the same object
# is semantically free. Keyed weakly by session so a stopped session's
# plans are collectable (and a fresh session — e.g. the driver's — never
# sees another session's plans).
import weakref

_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
# fan_out partition-count memo: df.rdd forces a FULL physical-planning
# pass on the driver (analysis + optimization + planning) just to read
# the partition count — ~20-40 ms per call that bench passes and sweeps
# re-pay for the same immutable plan object (load_table memoizes scans,
# so the same table yields the same DataFrame). Keyed weakly by the
# DataFrame itself; a stopped session's plans stay collectable.
_NPART_MEMO: "weakref.WeakKeyDictionary[DataFrame, int]" = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — columnar, filter/column pushdown handled by Catalyst.

    Nanosecond timestamp columns (read as ns-longs under
    ``nanosAsLong``) are normalized to microsecond timestamps so the rest
    of the engine sees ordinary ``TimestampType``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        memo = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable on some builds
        memo = {}
    path = table_path(os.path.abspath(sf_dir), name)
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # missing/dir-listing-only path: let spark.read raise below
    # mtime in the key invalidates stale plans if the parquet dir is
    # rewritten mid-session (the captured file listing would otherwise
    # reference deleted files).
    key = (path, mtime)

    # Self-heal the runtime confs the engine's semantics depend on — on
    # EVERY call, memo hit or miss, so a caller resetting session confs
    # between calls can't leak a non-UTC zone into a memoized plan's
    # execution. Caller-built sessions (the correctness driver's own
    # SparkSession) must behave like get_spark's: UTC rendering for
    # timestamp/date exprs — on a non-UTC box, date_format/window.start/
    # to_date would otherwise shift by the JVM TZ offset while the DuckDB
    # oracle floors epochs.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if key in memo:
        return memo[key]
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects outright. `nanosAsLong` is a RUNTIME SQL conf, so
        # set it here rather than only in get_spark's builder: callers may
        # hand us a SparkSession built elsewhere (the correctness driver
        # does exactly that) and reads must survive any session.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            # conf rejected (e.g. treated as static on some builds) — fall
            # through; if the session already has it set the read succeeds.
            pass
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        field = dict((f.name, f.dataType) for f in df.schema.fields).get("ts")
        if isinstance(field, T.LongType):
            # integer division: `/` is DOUBLE division, and ns-since-epoch
            # (~1.7e18) exceeds double's 53-bit mantissa — the rounded
            # quotient lands ±1µs off. `div` stays exact on longs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field, T.TimestampNTZType):
            # Spark 4.1 reads parquet TIMESTAMP(NANOS) natively as
            # TIMESTAMP_NTZ (micros truncation) and ignores nanosAsLong.
            # Cast to session-TZ TimestampType (session TZ forced to UTC
            # above, so wall-clock values are unchanged) — the engine and
            # every oracle comparison assume plain TimestampType.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    memo[key] = df
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan yields fewer partitions
    than the session's parallelism.

    Small single-file parquet scans (one row group) arrive as ONE
    partition, serializing every downstream expression onto one core —
    a small-data artifact. At real scale the scan already produces
    >= cores partitions and this is a no-op, so no shuffle is added on
    the 100 TB path.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    nparts = None
    try:
        nparts = _NPART_MEMO.get(df)
    except TypeError:
        pass
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        try:
            _NPART_MEMO[df] = nparts
        except TypeError:
            pass
    if nparts < target:
        return df.repartition(target)
    return df

