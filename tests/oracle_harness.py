"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL on the same parquet tables, then
compares row count, column names, and an order-insensitive value multiset
(columns sorted by name, rows sorted by their string form) — the same gate
shape the driver applies at sf0.01.
"""

from __future__ import annotations

import gc
import math
import os
import threading
import types
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import duckdb
from py4j.java_gateway import GatewayClient

from etl_dashboard_project_1_spark.session import TABLES


@contextmanager
def count_py4j_calls():
    """Count the Py4J round-trips the calling thread makes inside the
    block; yields an object whose ``calls`` attribute holds the running
    count.

    Every Python→JVM call goes through ``GatewayClient.send_command``.
    ``gc.collect()`` runs first, and calls from other threads are not
    counted: proxy detaches for earlier garbage are sent by Py4J's
    finalizer thread and would otherwise be billed to the block."""
    gc.collect()
    count = types.SimpleNamespace(calls=0)
    original = GatewayClient.send_command
    caller = threading.get_ident()

    def send_command(self, *args, **kwargs):
        if threading.get_ident() == caller:
            count.calls += 1
        return original(self, *args, **kwargs)

    GatewayClient.send_command = send_command
    try:
        yield count
    finally:
        GatewayClient.send_command = original


@contextmanager
def count_jobs(spark, group: str):
    """Count the Spark jobs and stages that ``statusTracker`` lists for
    job group ``group`` during the block; yields an object whose ``jobs``
    and ``stages`` attributes are set when the block exits. A streaming
    query's group is ``str(q.runId)``.

    Stages are counted per job as perfbench does, so a shuffle stage a
    later job skips counts again there. The listener bus is drained
    before each read: the tracker learns of jobs asynchronously."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(group))
    count = types.SimpleNamespace(jobs=0, stages=0)
    yield count
    bus.waitUntilEmpty()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in before]
    count.jobs = len(jobs)
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        stages = info.stageIds if info is not None else []
        count.stages += sum(tracker.getStageInfo(s) is not None for s in stages)


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


#: Threads for registry-wide sweeps. At tiny scale factors each query costs
#: about its Spark job-scheduling floor, so a few queries in flight on one
#: shared session finish a sweep ~2x sooner on 4 cores; more threads only
#: queue behind the same cores.
SWEEP_WORKERS = 4


def map_registry(check, items) -> list:
    """``[check(item) for item in items]``, run on a thread pool.

    Registry queries may share one SparkSession across threads: the only
    session confs a query sets are load_table's constant time-zone and
    nanosAsLong values, and each temp view a query registers is written by
    that query alone. ``check`` must not share a DuckDB connection between
    calls (``compare`` opens its own).
    """
    with ThreadPoolExecutor(max_workers=SWEEP_WORKERS) as pool:
        return list(pool.map(check, items))


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    # Faithful to the driver's pandas canonicalizer: sort_values over a
    # frame with list/dict cells raises `unhashable type` (r4 failure) —
    # reject here instead of silently stringifying.
    if isinstance(v, (list, tuple, dict, set)):
        raise TypeError(
            f"complex cell {type(v).__name__} — the driver canon cannot "
            "hash array/map/struct outputs; emit concat_ws/array_to_string "
            "scalars or explode to rows"
        )
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canonical(rows: list[dict], cols: list[str]) -> list[tuple]:
    cols_sorted = sorted(cols)
    out = [tuple(_norm_cell(r[c]) for c in cols_sorted) for r in rows]
    return sorted(out)


#: Spark type classes the driver's pandas canonicalizer cannot hash.
def _complex_fields(schema) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def compare(spark, fn, sql: str, sf_dir: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    bad_cols = _complex_fields(sdf.schema)
    if bad_cols:
        return False, (
            f"complex output columns {bad_cols} — driver canon rejects "
            "array/map/struct (r4 failure class)"
        )
    spark_rows = [r.asDict() for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    con = duckdb_connect(sf_dir)
    rel = con.execute(sql)
    o_cols = [d[0] for d in rel.description]
    o_rows = [dict(zip(o_cols, row)) for row in rel.fetchall()]
    con.close()

    if sorted(spark_cols) != sorted(o_cols):
        return False, f"schema mismatch: spark={sorted(spark_cols)} oracle={sorted(o_cols)}"
    if len(spark_rows) != len(o_rows):
        return False, f"rowcount mismatch: spark={len(spark_rows)} oracle={len(o_rows)}"
    a = _canonical(spark_rows, spark_cols)
    b = _canonical(o_rows, o_cols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"ok ({len(spark_rows)} rows)"
