#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: vehicle_refresh, dashboard_mix,
curation_batch, event_ingest (see perfbench/README.md). The second-to-last
stdout line is the full report (environment, every metric with its unit,
sample counts, gate details, self-time table); the last line is

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; spans are also written to perfbench/traces/). Every file
the run writes lives under perfbench/_work/ and is deleted at exit. Exits
non-zero, without a result line, when the program cannot be run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


#: driver JVM heap for the benchmark session (the program's default is 8g)
DRIVER_MEM = "2g"


def isolate(work_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work_dir`` and size the driver heap; must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.harness import Settings, run_workload, start_session, stop_session
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        trace_out = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
    settings = Settings(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                        work_dir=work_dir, trace_out=trace_out)
    spark = None
    try:
        isolate(work_dir)
        spark, session_s = start_session()
        report, result = run_workload(WORKLOADS[args.workload], spark, settings, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
