"""Session start, the closed-loop operation runner and metric assembly.

Every workload runs in one process on ``local[<nproc>]`` with a single
client thread: the next operation starts only after the previous one has
returned (a closed loop). A run is

1. set-up: session start, then input staging, once;
2. the cold phase: the first operation(s) in the fresh process, checked
   against the workload's correctness gate;
3. optional untimed warm-up operations;
4. the timed phase: whole rounds of operations within ``seconds``;
5. the end-of-run gate, where a workload has one.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import stats
from .tracing import Patcher, Tracer, per_op_totals

NPROC = len(os.sched_getaffinity(0))


class WrongResult(Exception):
    """An operation completed but its output failed a correctness check."""


@dataclass
class Settings:
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    sf: float = 0.1
    trace_out: str | None = None  # where a traced run writes its spans


@dataclass
class OpRecord:
    name: str
    phase: str  # "cold", "warmup" or "timed"
    op_id: str
    round: int
    latency: float
    ok: bool
    rows: int
    traced: bool
    error: str | None = None
    spark: dict = field(default_factory=dict)


# --- session ---------------------------------------------------------------


def start_session(app_name: str = "perfbench"):
    """The program's own session factory on ``local[<nproc>]``; returns
    ``(spark, seconds)``."""
    from etl_dashboard_project_1_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=app_name, cpus=NPROC)
    quiet_logs(spark)
    return spark, time.perf_counter() - t


def quiet_logs(spark) -> None:
    """ERROR-level logging, and the DAGScheduler logger at FATAL: repeated
    ``localCheckpoint`` jobs race the ContextCleaner and log a harmless
    "non-existent accumulator" stack trace per task. Failures are counted
    from raised exceptions, never from log lines."""
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def env_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "nproc": NPROC,
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
    }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(entry)
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
        comm[pid] = name
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            if comm.get(child) == "java":
                out.append(child)
            todo.append(child)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM, in MB."""
    pids = [os.getpid(), *_java_descendants(os.getpid())]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# --- Spark job/stage/task counts --------------------------------------------


class SparkCounter:
    """Jobs, stages and tasks of one operation, from ``statusTracker``.

    By default each operation runs in its own job group. A streaming
    operation's jobs run in the query's group (its run id), so for those
    the counter takes the jobs that appeared in that group during the op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, op_id: str, job_group: str | None):
        if job_group is None:
            group = f"perfbench-{op_id}"
            self.sc.setJobGroup(group, op_id)
            return group, set()
        return job_group, set(self.tracker.getJobIdsForGroup(job_group))

    def end(self, token) -> dict:
        group, before = token
        jobs = [j for j in self.tracker.getJobIdsForGroup(group) if j not in before]
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# --- the runner --------------------------------------------------------------


class Runner:
    def __init__(self, spark, settings: Settings, tracer: Tracer):
        self.settings = settings
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.counter = SparkCounter(spark) if tracer.enabled else None
        self.timed_s = 0.0

    def run(self, name: str, fn, phase: str, rows: int = 0, round_no: int = 0,
            traced: bool = True, job_group: str | None = None) -> OpRecord:
        """Run one operation. ``fn`` raises :class:`WrongResult` when its
        output is wrong; any exception counts the op as failed."""
        op_id = f"{phase}-{len(self.records)}"
        tracer = self.tracer
        tracer.op_id = op_id
        tracer.active = tracer.enabled and traced
        token = self.counter.begin(op_id, job_group) if self.counter else None
        error = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                fn()
        except WrongResult as exc:
            error = f"wrong result: {exc}"
        except Exception as exc:  # the loop must go on; the op counts as failed
            error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        tracer.active = False
        rec = OpRecord(name, phase, op_id, round_no, latency, error is None, rows,
                       tracer.enabled and traced, error)
        if token is not None:
            rec.spark = self.counter.end(token)
        self.records.append(rec)
        return rec

    def warmup(self, next_round, rounds: int) -> None:
        for r in range(rounds):
            for name, fn, rows, group in next_round(r):
                self.run(name, fn, "warmup", rows, r, traced=False, job_group=group)

    def timed(self, next_round) -> None:
        """Closed loop over whole rounds within ``seconds``: a round starts
        only if, at the last round's pace, it ends within ``seconds``; the
        first round always runs. ``next_round(r)`` returns
        ``[(name, fn, rows, job_group), ...]``; an empty round ends the
        phase early. In a traced run, even rounds are traced and odd rounds
        are not, to measure the tracing overhead, so a traced run always
        runs at least two rounds."""
        min_rounds = 2 if self.tracer.enabled else 1
        start = time.perf_counter()
        r = 0
        while True:
            ops = next_round(r)
            if not ops:
                break
            t = time.perf_counter()
            for name, fn, rows, group in ops:
                self.run(name, fn, "timed", rows, r, traced=r % 2 == 0, job_group=group)
            r += 1
            now = time.perf_counter()
            if r >= min_rounds and (now - start) + (now - t) > self.settings.seconds:
                break
        self.timed_s = time.perf_counter() - start

    def fail(self, rec: OpRecord, reason: str) -> None:
        rec.ok = False
        rec.error = reason


# --- metrics -----------------------------------------------------------------

#: (name, unit, better) of every end-to-end metric printed on the result line
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cold_op_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

#: (name, unit, better) of every per-layer metric printed by a traced run.
#: Times and counts are means per traced timed operation unless the name
#: says otherwise; a layer a workload never calls reads 0.
#: ``trace.overhead_ratio`` is left out when it could not be measured.
PER_LAYER = [
    ("plans.build_s", "s", "lower"),
    ("plans.exec_s", "s", "lower"),
    ("plans.build.self_s", "s", "lower"),
    ("plans.exec.self_s", "s", "lower"),
    ("sources.excel.infer_s", "s", "lower"),
    ("sources.excel.ingest_s", "s", "lower"),
    ("sources.excel.ingest.self_s", "s", "lower"),
    ("functions.headers.standardize_s", "s", "lower"),
    ("functions.headers.cache_hit_ratio", "ratio", "higher"),
    ("operators.cleaning.ffill_s", "s", "lower"),
    ("operators.fuzzy.match_s", "s", "lower"),
    ("operators.fuzzy.match_ratio", "ratio", "higher"),
    ("sources.writers.write_s", "s", "lower"),
    ("sources.writers.files_written", "count", "lower"),
    ("sources.writers.bytes_written", "bytes", "lower"),
    ("session.load_table.calls", "count", "lower"),
    ("session.load_table.memo_hit_ratio", "ratio", "higher"),
    ("session.fan_out.s", "s", "lower"),
    ("operators.dedup.s", "s", "lower"),
    ("operators.textops.s", "s", "lower"),
    ("operators.vector.s", "s", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.bytes_rewritten_per_event", "bytes", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("op.self_s", "s", "lower"),
    ("trace.spans_per_op", "count", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

UNITS = {
    **{name: unit for name, unit, _ in END_TO_END + PER_LAYER},
    "op_p90_s": "s",
    "rows_per_s": "rows/s",
    "failed_ops_ratio": "ratio",
}

#: span name -> per-layer metric of its inclusive time per op
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "plans.exec": "plans.exec_s",
    "sources.excel.infer": "sources.excel.infer_s",
    "sources.excel.ingest": "sources.excel.ingest_s",
    "functions.headers.standardize": "functions.headers.standardize_s",
    "sources.writers.write": "sources.writers.write_s",
    "session.fan_out": "session.fan_out.s",
    "operators.dedup": "operators.dedup.s",
    "operators.textops": "operators.textops.s",
    "operators.vector": "operators.vector.s",
}

#: span name -> per-layer metric of its self time per op
SELF_METRICS = {
    "plans.build": "plans.build.self_s",
    "plans.exec": "plans.exec.self_s",
    "sources.excel.ingest": "sources.excel.ingest.self_s",
    "op": "op.self_s",
}


def end_to_end(runner: Runner, setup_s: float, cold_op_s: float, rows_metric: bool) -> dict:
    """Every end-to-end value, plus the ones reported only where they
    apply (``op_p90_s``, ``rows_per_s``) and the failure ratio."""
    recs = runner.records
    timed = [r for r in recs if r.phase == "timed"]
    lat = [r.latency for r in timed if r.ok]
    if not lat:
        raise RuntimeError("no timed operation succeeded")
    failed = sum(1 for r in recs if not r.ok)
    out = {
        "setup_s": setup_s,
        "cold_op_s": cold_op_s,
        "op_p50_s": stats.median(lat),
        "ops_per_s": len(lat) / runner.timed_s,
        "peak_rss_mb": peak_rss_mb(),
        "failed_ops_ratio": stats.ratio(failed, len(recs)),
    }
    p90 = stats.tail_percentile(lat, 90.0)
    if p90 is not None:
        out["op_p90_s"] = p90
    if rows_metric:
        out["rows_per_s"] = sum(r.rows for r in timed if r.ok) / runner.timed_s
    return out


def per_layer(runner: Runner, tracer: Tracer, extra: dict) -> tuple[dict, dict]:
    """``(metrics, self_time_table)`` from the traced timed operations.
    ``extra`` holds layer values a workload measured itself; they win."""
    timed = [r for r in runner.records if r.phase == "timed" and r.ok]
    traced = [r for r in timed if r.traced]
    ops = {r.op_id for r in traced}
    n = max(len(ops), 1)
    totals = per_op_totals(tracer.spans, ops)

    def count(key: str) -> float:
        return sum(tracer.counts.get((op, key), 0.0) for op in ops)

    out = {name: 0.0 for name, _, _ in PER_LAYER}
    for span, metric in SPAN_METRICS.items():
        out[metric] = sum(v[0] for v in totals.get(span, {}).values()) / n
    for span, metric in SELF_METRICS.items():
        out[metric] = sum(v[1] for v in totals.get(span, {}).values()) / n
    out["functions.headers.cache_hit_ratio"] = stats.ratio(
        count("functions.headers.hits"), count("functions.headers.lookups"))
    out["sources.writers.files_written"] = count("sources.writers.files_written") / n
    out["sources.writers.bytes_written"] = count("sources.writers.bytes_written") / n
    out["session.load_table.calls"] = count("session.load_table.calls") / n
    out["session.load_table.memo_hit_ratio"] = stats.ratio(
        count("session.load_table.hits"), count("session.load_table.calls"))
    out["streaming.batch_s"] = count("streaming.batch_s") / n
    out["streaming.add_batch_s"] = count("streaming.add_batch_s") / n
    out["streaming.bytes_rewritten_per_event"] = stats.ratio(
        count("streaming.bytes_rewritten"), count("streaming.events"))
    counted = [r.spark for r in timed if r.spark]
    if counted:
        out["spark.jobs_per_op"] = sum(c["jobs"] for c in counted) / len(counted)
        out["spark.stages_per_op"] = sum(c["stages"] for c in counted) / len(counted)
        out["spark.tasks_per_op"] = sum(c["tasks"] for c in counted) / len(counted)
        out["spark.failed_tasks"] = float(sum(c["failed_tasks"] for c in counted))
    out["trace.spans_per_op"] = sum(1 for s in tracer.spans if s.op_id in ops) / n
    ratio = overhead_ratio(timed)
    if ratio is None:
        del out["trace.overhead_ratio"]
    else:
        out["trace.overhead_ratio"] = ratio
    out.update(extra)
    table = {
        span: {
            "incl_s": sum(v[0] for v in by_op.values()) / n,
            "self_s": sum(v[1] for v in by_op.values()) / n,
        }
        for span, by_op in sorted(totals.items())
    }
    return out, table


def overhead_ratio(timed: list[OpRecord]) -> float | None:
    """Median over op names of (median traced latency / median untraced
    latency), minus 1; None when no op name has both a traced and an
    untraced successful sample."""
    ratios = []
    for name in sorted({r.name for r in timed}):
        on = [r.latency for r in timed if r.name == name and r.traced]
        off = [r.latency for r in timed if r.name == name and not r.traced]
        if on and off:
            ratios.append(stats.median(on) / stats.median(off))
    return stats.median(ratios) - 1.0 if ratios else None


def run_workload(workload_cls, spark, settings: Settings, session_s: float):
    """Run one workload end to end on ``spark``; returns ``(report, result)``:
    the full report and the contract result line."""
    tracer = Tracer(settings.trace)
    patcher = Patcher()
    runner = Runner(spark, settings, tracer)
    w = workload_cls(spark, settings, runner, tracer)
    try:
        t = time.perf_counter()
        w.stage()
        staging_s = time.perf_counter() - t
        setup_s = session_s + staging_s
        if settings.trace:
            w.instrument(patcher)
        cold_op_s = w.cold()
        runner.warmup(w.round, w.warmup_rounds)
        runner.timed(w.round)
        w.finish()
        e2e = end_to_end(runner, setup_s, cold_op_s, w.rows_metric)
        layers, table = ({}, {})
        if settings.trace:
            extra = w.probes()
            patcher.restore()
            layers, table = per_layer(runner, tracer, extra)
            if settings.trace_out:
                tracer.dump(settings.trace_out)
    finally:
        patcher.restore()
        w.close()
    failed = sum(1 for r in runner.records if not r.ok)
    timed = [r for r in runner.records if r.phase == "timed"]
    report = {
        "workload": w.name,
        "seed": settings.seed,
        "trace": int(settings.trace),
        "env": env_info(spark),
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in {**e2e, **layers}.items()},
        "samples": len(timed),
        "traced_samples": sum(1 for r in timed if r.traced),
        "per_op": {name: [r.latency for r in timed if r.name == name]
                   for name in sorted({r.name for r in timed})},
        "rounds": len({r.round for r in timed}),
        "timed_s": runner.timed_s,
        "session_start_s": session_s,
        "staging_s": staging_s,
        "gate": w.gate_detail,
        "errors": [f"{r.op_id} {r.name}: {r.error}" for r in runner.records if r.error][:20],
        "self_times": table,
    }
    chosen, values = (PER_LAYER, layers) if settings.trace else (END_TO_END, e2e)
    report["unmeasured"] = [name for name, _, _ in chosen if name not in values]
    result = {
        "correct": failed == 0,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit, _ in chosen if name in values},
    }
    return report, result
