#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full evaluation,
JVM-side, no driver materialization) so timings measure the plan, not
collect serialization.

Variance defenses (r4 — BENCH_r03 showed unchanged trivial queries
swinging 2x on box load, making the artifact unable to distinguish a
real regression from noise):
  * one untimed warmup pass (JVM one-time costs: codegen compiles,
    broadcast pool, Arrow allocators — amortized on a real cluster),
  * N_PASSES timed passes INTERLEAVED over the whole query list (a load
    spike hits one pass of many queries, not every rep of one query),
  * per-query "spread" [min, median, max] across passes in the output,
  * "extra" timings for alternate operator forms that are NOT part of
    the headline total (dedup_minhash_lsh hashed=True — the operator's
    scale default; the registered bench form is the measured-fastest
    local form, hashed=False — see plans/extension_queries.py).
"value" remains sum of per-query minimums over the same 15 queries, so
totals stay comparable with BENCH_r01..r03.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from etl_dashboard_project_1_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

# headline set: scan-agg, join-heavy, window, fuzzy, dedup sketches, text,
# vector search, streaming-shaped — one per operator family
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "a5_argmax_topk",
    "n2_ffill_partitioned",
    "j1_fuzzy_similarity_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "sim_cosine_topk",
    "stream_tumbling_agg",
    "sessionize_events",
    "pack_chunks_manifest",
    "text_pii_scrub",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _extra_queries(spark, sf_dir):
    """Alternate forms measured but excluded from the headline total."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import dedup, derive
    from etl_dashboard_project_1_spark.session import fan_out, load_table

    def minhash_hashed(spark, sf_dir):
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=8, band_size=2,
            threshold=0.2, reuse="checkpoint", hashed=True,
            broadcast_candidates=True,
        )
        return pairs.select(
            "id_a", "id_b", derive.portable_round(F.col("jaccard"), 4).alias("jaccard")
        )

    return {"dedup_minhash_lsh_hashed": minhash_hashed}


def main() -> None:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark(app_name="bench")
    # Root-caused (r3): repeated runs of localCheckpoint-using queries
    # (dedup_minhash_lsh, text_tfidf_topk) race the ContextCleaner — a
    # checkpoint-stage task can complete after its accumulators were
    # already GC'd, and the DAGScheduler logs the resulting
    # "attempted to access non-existent accumulator" SparkException with
    # a full stack trace at WARN. Harmless (rc=0, all timings produced,
    # results unaffected — the task's data already landed), but it
    # pollutes the bench tail the driver records (576 ERROR-level lines in
    # one run, all "Failed to update accumulator N (Unknown class)").
    # Deliberately silenced at the DAGScheduler logger only — an actual
    # job failure still raises Python-side and fails the bench; nothing
    # else logs through that logger at this level during a healthy run.
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )

    registry = entrymod.queries()
    extras = _extra_queries(spark, SF_DIR)

    # warmup: every query (headline + extras) once, untimed
    for name in HEADLINE:
        force(registry[name](spark, SF_DIR))
    for fn in extras.values():
        force(fn(spark, SF_DIR))

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    extra_samples: dict[str, list[float]] = {n: [] for n in extras}
    for _ in range(N_PASSES):
        for name in HEADLINE:
            t0 = time.perf_counter()
            force(registry[name](spark, SF_DIR))
            samples[name].append(time.perf_counter() - t0)
        for name, fn in extras.items():
            t0 = time.perf_counter()
            force(fn(spark, SF_DIR))
            extra_samples[name].append(time.perf_counter() - t0)

    timings = {n: round(min(v), 3) for n, v in samples.items()}
    spread = {
        n: [round(min(v), 3), round(statistics.median(v), 3), round(max(v), 3)]
        for n, v in samples.items()
    }
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "passes": N_PASSES,
                "spread": spread,
                "extra": {n: round(min(v), 3) for n, v in extra_samples.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
