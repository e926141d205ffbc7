"""Scale-mechanics tests: bucketed co-located joins (shuffle-free),
salted plans, stateful streaming operator."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_dashboard_project_1_spark.session import load_table
from etl_dashboard_project_1_spark.streaming import jobs

SF = "/root/testdata/sf0.001"


def test_bucketed_join_is_shuffle_free(spark):
    """Both sides bucketed on the join key → SortMergeJoin with ZERO
    exchanges (the bucketing layout replaces the shuffle). This is the
    co-located-join story for repeatedly-joined 100 TB tables."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_bkt")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "ord_bkt"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bkt").join(
            spark.table("ord_bkt"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_unbucketed_join_needs_shuffle(spark):
    """Control: same join without bucketing shuffles both sides."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stateful_user_totals_stream(spark):
    """applyInPandasWithState: explicit keyed state across micro-batches.
    With one input batch, emitted totals must equal the batch groupBy."""
    stream = jobs.stateful_user_totals(jobs.read_events_stream(spark, SF))
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_stateful")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM t_stateful").collect()
        }
        want = {
            r["user_id"]: (r["n"], round(r["s"], 2))
            for r in load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_sessionize_single_exchange(spark):
    """Gap sessionization: both windows and the final groupBy must reuse
    ONE hash partitioning on the session key — exactly one Exchange."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["sessionize_events"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_band_join_broadcasts_bands_not_facts(spark):
    """Band join: the config-sized band table broadcasts (nested-loop);
    the fact side must NOT shuffle before the join."""
    from etl_dashboard_project_1_spark.operators import rangejoin

    ev = load_table(spark, SF, "events").filter(F.col("event_type") == "purchase")
    bands = spark.createDataFrame(
        [("lo", 0.0, 50.0), ("hi", 50.0, 1e9)], ["band", "lo", "hi"]
    )
    j = rangejoin.band_join(ev, "value", bands)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan.split("BroadcastNestedLoopJoin")[0], plan


def test_interval_join_shuffles_on_equi_key_only(spark):
    """Interval join with an equi key: the time predicate must ride along
    as a join condition/filter, never force a cross-product plan."""
    from etl_dashboard_project_1_spark.operators import rangejoin

    ev = load_table(spark, SF, "events")
    pts = ev.select("user_id", F.col("ts").alias("p_ts"))
    rng = ev.select(
        "user_id", F.col("ts").alias("r_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("r_end"),
    )
    j = rangejoin.interval_join(pts, rng, "p_ts", "r_start", "r_end", by=["user_id"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sample_predicate_is_map_only(spark):
    """Hash sampling must stay a scan-side filter — zero exchanges."""
    from etl_dashboard_project_1_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    s = sampling.deterministic_sample(docs, "doc_id", 0.1)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_no_registered_query_plans_a_cartesian_product(spark):
    """Global scale guard: NO registry query may compile to an unbounded
    CartesianProduct. Broadcast nested-loop joins are allowed only where
    one side is config/driver-sized by construction (the band-table join
    and the fuzzy join's broadcast catalog cross)."""
    import importlib

    from tests.oracle_harness import map_registry

    entrymod = importlib.import_module("__spark_entry__")
    # nested-loop-by-design: the broadcast side is literal/config-sized
    NESTED_LOOP_OK = {
        "band_join_purchase_values",       # literal band table
        "j1_fuzzy_similarity_join",        # broadcast 25-row catalog cross
        "j1_fuzzy_difflib",
        "j2_mapping_application",
        "salted_join_events_customers",    # dim × salt_buckets literal replication
        "text_tfidf_topk",                 # scalar corpus-count (1-row broadcast)
        "text_unigram_logprob",            # scalar corpus-total (1-row broadcast)
        "q11_important_value",             # scalar grand-total (1-row broadcast)
        "q15_top_supplier",                # scalar max-revenue (1-row broadcast)
        "q22_dormant_rich_customers",      # scalar avg-balance (1-row broadcast)
        "vocab_zipf_curve",                # scalar corpus-total (1-row broadcast)
        "text_boilerplate_strip",          # scalar doc-count + 1-row boiler array broadcast
        "sim_batch_topk",                  # broadcast query BATCH (request-sized) cross-score
        "hybrid_retrieval_rerank",         # same batched top-k core as sim_batch_topk
        "bloom_filtered_events_join",      # 1-row Bloom bitmap broadcast
        "event_type_lift",                 # scalar user-count (1-row broadcast)
        "layout_zorder_locality",          # 1-row quantization-bounds broadcast
        "user_value_pareto",               # 1-row percentile-bounds + grand-total broadcasts
        "bm25_retrieval_topk",             # 1-row (N, avgdl) corpus-stats broadcast
        "retrieval_rrf_fusion",            # sim_batch_topk core + bm25 stats broadcast
        "contrastive_hard_negatives",      # sim_batch_topk core (broadcast query batch)
        "sample_sqrt_mixture",             # 1-row rarest-language-count broadcast
        "ann_recall_eval",                 # broadcast 4-query batch, non-equi hamming probe
        "colloc_lift_topk",                # scalar corpus-total (1-row broadcast)
        "source_unigram_tv",               # scalar corpus-total (1-row broadcast)
        "basket_part_pairs_lift",          # scalar order-total (1-row broadcast)
        "graph_triangle_count",            # 1-row node/edge-count broadcasts
        "skew_key_profile",                # 1-row key/total-count broadcast
        "split_group_disjoint",            # 1-row leak-count broadcast
        "retrieval_mrr_eval",              # sim_batch_topk core (broadcast query batch)
        "ri_audit_all_edges",              # 1-row orphan-count broadcasts per edge
        "session_peak_concurrency",        # 1-row peak/first-instant broadcasts
        "quality_tier_inventory",          # 1-row quartile-thresholds broadcast
        "split_temporal_embargo",          # 1-row user-overlap-count broadcast
        "ks_value_drift_gate",             # 1-row cohort-totals broadcast
        "revenue_gini",                    # 1-row (n, sum) totals broadcast
        "benford_first_digit_audit",       # scalar grand-total (1-row broadcast)
        "emb_knn_eval",                    # sim_batch_topk core (broadcast eval batch)
        "vehicle_pipeline_summary",        # j1 broadcast catalog cross (see j1_*)
        "kmv_intersection_estimate",       # 1-row estimates frame × 1-row exact count
        "quota_largest_remainder",         # 1-row totals broadcast
        "rfm_segments",                    # 1-row customer-count broadcast
        "retrieval_ndcg_eval",             # sim_batch_topk core (broadcast query batch)
        "score_decile_lift",               # 1-row (n, positives) totals broadcast
        "threshold_sweep_pr",              # config-sized threshold-grid broadcast
        "ann_ivf_recall_gate",             # C=8-row centroid/seed broadcasts + topk-batch core
        "reciprocal_best_match",           # 64-query broadcast batch (topk core + 64×64 back-match)
        "bootstrap_ci_mean",               # 1-row CI-bounds broadcast
        "conformal_quantile_gate",         # 1-row qhat/ncal/ntrain broadcasts
        "halflife_decay_user_value",       # 1-row max-date anchor broadcast
        "cuped_adjusted_ab",               # 1-row pooled-moments broadcast
        "survival_hazard_daily",           # 1-row max-date anchor broadcast
        "acf_daily_revenue",               # 8-row lag-grid broadcast over the day frame
        "dedup_sorted_neighborhood",       # 3-row rank-offset grid broadcast
        "cms_heavy_hitters",               # 4-row depth-grid broadcast (sketch hash rows)
        "theil_sen_trend",                 # banded |days|-frame self-join + 1-row count broadcast
        "bloom_fpr_audit",                 # 3-row hash-grid + 1-row fill-count broadcasts
        "sample_weighted_allocation",      # 1-row weight-total broadcast (seat math)
        "kll_quantile_gate",               # 1-row (n, level, mod) meta + 4-row probe broadcasts
        "langid_kappa_eval",               # 1-row marginal-products broadcast
        "eb_shrunken_group_means",         # 1-row global-totals broadcast
        "kendall_tau_leaderboards",        # |nations|²-bounded pair self-join
        "logrank_survival_test",           # 1-row max-date anchor broadcast
        "kruskal_wallis_value_by_type",    # 1-row tie-term broadcast
        "mann_kendall_trend",              # |days|²-bounded pair self-join + 1-row tie broadcast
        "bh_fdr_keep_set",                 # 1-row global-moments broadcast
    }
    sf = "/root/testdata/sf0.001"
    registered = set(entrymod.queries())
    stale = NESTED_LOOP_OK - registered
    assert not stale, f"whitelist names not in registry (stale entries): {stale}"

    def plan_of(item):
        name, fn = item
        try:
            return name, fn(spark, sf)._jdf.queryExecution().executedPlan().toString(), None
        except Exception as e:  # a query failing to BUILD is itself a bug
            return name, None, e

    offenders = {}
    for name, plan, err in map_registry(plan_of, list(entrymod.queries().items())):
        if err is not None:
            offenders[name] = f"plan build failed: {err}"
        elif "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
            offenders[name] = "BroadcastNestedLoopJoin (not whitelisted)"
    assert not offenders, offenders


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet sink + partition-pruned re-read: a filter
    on the partition column must become a PartitionFilter (directory
    pruning — zero data files of other partitions opened), not a data
    filter. This is the layout that turns a 100 TB table scan into a
    single-partition read."""
    from etl_dashboard_project_1_spark.sources import writers

    ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    writers.write_parquet(ev, out, partition_by=["day"])

    back = spark.read.parquet(out)
    one_day = ev.select(F.min("day")).first()[0]
    plan = (
        back.filter(F.col("day") == F.lit(one_day))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert f"(day = {one_day})" in plan or "isnotnull(day" in plan, plan
    got = back.filter(F.col("day") == F.lit(one_day)).count()
    want = ev.filter(F.col("day") == F.lit(one_day)).count()
    assert got == want > 0


def test_zorder_buckets_are_tight_in_both_dimensions(spark):
    """The property z-order layout exists to deliver: every range bucket
    of the Morton key covers a small span of BOTH interleaved dimensions
    at once (so parquet min/max stats prune files on predicates against
    either column). A plain sort on one column would leave the other
    column's per-bucket span ~ the full domain."""
    from etl_dashboard_project_1_spark.plans import profile_queries as pq

    rows = pq.layout_zorder_locality(spark, SF).collect()
    assert len(rows) > 64  # key space genuinely cut into many buckets
    ck_domain = max(r.ck_min + r.ck_span for r in rows) - min(r.ck_min for r in rows)
    dy_domain = max(r.dy_min + r.dy_span for r in rows) - min(r.dy_min for r in rows)
    # with 8-bit interleave cut into 256 buckets, each bucket covers a
    # 16x16 quantization cell => span <= ~1/16 of domain (+1 cell slack)
    for r in rows:
        assert r.ck_span <= ck_domain / 8, (r.bucket, r.ck_span, ck_domain)
        assert r.dy_span <= dy_domain / 8, (r.bucket, r.dy_span, dy_domain)


from contextlib import contextmanager


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_bucketed_join_has_no_shuffle_exchange(spark, tmp_path):
    """Two tables bucketed on the same key/count must join with zero
    runtime Exchange (the shuffle was pre-paid at write): the core
    recurring-join layout for 100 TB fact tables."""
    import re

    from etl_dashboard_project_1_spark.operators import layout

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    lineitem = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    layout.write_bucketed(orders, "b_orders", "o_orderkey", 4)
    layout.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # forbid broadcast so the test proves BUCKETING removed the
        # shuffle, not a small-SF broadcast conversion
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            joined = bo.join(bl, "o_orderkey")
            joined.write.format("noop").mode("overwrite").save()
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert not re.search(r"Exchange (hash|range|RoundRobin|Single)", plan), plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            # sorted buckets: the join's sort phase is satisfied by layout
            expected = (
                load_table(spark, SF, "orders")
                .join(
                    load_table(spark, SF, "lineitem"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .count()
            )
            assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_aqe_splits_skewed_join_partitions(spark):
    """Hot-key resilience proof: a join whose left side is 80% one key
    must trigger AQE's skew-join handling — the final plan's sort-merge
    join carries skew=true and the skewed partition is split/replicated
    (AQEShuffleRead ... skewed) instead of serializing through one task.
    This is the runtime half of the salting story in operators/skew.py."""
    left = spark.range(0, 300000).select(
        F.when(F.col("id") < 250000, 0).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 50000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") * 2).alias("w")
    )
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    from contextlib import ExitStack

    with ExitStack() as stack:
        for key, value in confs.items():
            stack.enter_context(_conf(spark, key, value))
        j = left.join(right, "k")
        rows = j.count()
        j.collect()
        plan = (
            j._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        )
    # 250k hot-key rows and 50k tail rows each match 50 right rows
    assert rows == (250000 + 50000) * 50
    assert "skew=true" in plan, plan
    assert "skewed" in plan  # AQEShuffleRead split the hot partition


def test_every_registered_query_survives_empty_tables(spark, tmp_path_factory):
    """Cold-start robustness: every registry query must execute (not
    crash) against structurally-identical EMPTY tables — the first-run /
    fresh-partition regime. Found live: 7 queries crashed on a missing
    query vector, empty centroid set, or zero-node graph; all now return
    empty frames with their declared schema."""
    import __spark_entry__ as entrymod

    from tests.oracle_harness import map_registry

    src = SF
    empty_dir = str(tmp_path_factory.mktemp("empty_sf"))
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        df.limit(0).write.parquet(os.path.join(empty_dir, f"{t}.parquet"))

    def run(item):
        name, fn = item
        try:
            fn(spark, empty_dir).collect()
        except Exception as e:  # noqa: BLE001 — collecting ALL failures
            return name, str(e).split("\n")[0][:160]
        return name, None

    results = map_registry(run, list(entrymod.queries().items()))
    failures = {name: msg for name, msg in results if msg is not None}
    assert not failures, failures

import pytest


#: adversarial-mirror crash gates, one per tiny_sweep build mode. Found
#: live across rounds 5-7 (history per mode):
#:   tiny/3-row — ANSI div-by-zero on empty cohorts/classes/periods (5
#:     queries, r5/r6); ties — zero-variance PCA power iterate, single-
#:     year regression denominators (r6); nulls — NULL-propagating
#:     indicators, element_at on empty collect_list, JSON casts on
#:     non-numeric fields (r6); unicode — byte-vs-codepoint length in
#:     d3, ANSI NumberFormatException on non-schema JSON (r6); dupes —
#:     duplicate-primary-key ingestion (exploratory r6, gate since r7).
#: Cross-engine VALUE comparison for all modes lives in
#: tools/tiny_sweep.py (run per round; documented divergences recorded
#: in PLANS.md).
SWEEP_GATES = [
    ("tiny", 3, None),
    ("ties", 50, "ties"),
    ("nulls", 50, "nulls"),
    ("unicode", 50, "unicode"),
    ("dupes", 25, "dupes"),
    # r8 late-round addition: the negative-operand axis (refund values,
    # credited orders, overdrawn balances) — Spark `div` truncates
    # toward zero vs DuckDB `//` flooring, and ANSI casts crash on '-'
    # leading chars. First run caught benford_first_digit_audit's
    # substr(floor(x)) crash live.
    ("negatives", 50, "negatives"),
    # r9 addition: the integer-headroom axis (money ×1e6 — whale
    # magnitudes). First runs caught THREE live bugs: rolling_corr and
    # cuped's quadratic moments rode per-row int64 cents products that
    # ANSI-crash past 9.2e18, and theil_sen's slope_e6 silently
    # saturated Spark's floor(double)→long where DuckDB errored.
    ("bigmoney", 50, "bigmoney"),
    # r9 addition: the calendar-span axis (timestamps/dates fanned over
    # ~38 years) — week/leap/year-boundary conventions where the two
    # date libraries could genuinely disagree. First run: clean
    # (307/308, only the pinned set_ops class) — the calendar mirrors
    # hold on sparse multi-decade series.
    ("longspan", 50, "longspan"),
    # NOT GATED: --longtext (tools/tiny_sweep.py LONGTEXT, ~218k-char
    # docs) is an instrumented MANUAL axis — its runs caught and fixed
    # live O(len²) classes (boilerplate strip, span dedup, the shingle
    # oracle CTE). Every word k-gram builder now goes through the linear
    # dedup.gram_fold, and textops.repetition_signals counts with a
    # sorted run-length fold (O(n log n); a 50k-token document is
    # checked in test_extensions). The axis stays out of tier-1 for its
    # run time, which the tier-1 timeout has no margin for. Staging
    # status is documented at tools/tiny_sweep.py LONGTEXT.
]

#: r8 upgrade (r7 verdict item 4): the adjudicated cross-engine
#: divergences per mode are PINNED here — a new divergence is a test
#: failure, not a PLANS.md diff. Each entry is a documented contract
#: violation by the adversarial data, not a bug:
#:   set_ops_retained_customers — empty-class divergence in every mode
#:     (Spark ungrouped agg on empty input emits 1 all-NULL row where
#:     the GROUP-BY oracle emits 0);
#:   j1_fuzzy_difflib — pinned full-dimension oracle at 3 rows;
#:   mm_audio_peaks — documented ASCII-only oracle contract;
#:   the dupes set — operators whose rank/argmax/set semantics assume
#:     the schema's primary-key uniqueness contract: duplicating every
#:     row with IDENTICAL keys leaves no total order for row_number /
#:     top-k tie-breaks (duplicate doc_ids/event_ids/custkeys), so the
#:     two engines legitimately pick different representatives. The
#:     engine's defined behavior on duplicate-PK corrupt input is to
#:     SURFACE it (id_continuity_audit / ri_audit_all_edges stay green
#:     and report it), not to define semantics for it.
#: q1_pricing_summary was in the r7 dupes list and is deliberately NOT
#: pinned: its divergence was the order-dependent float-sum class, not
#: a precondition — fixed in r8 by the exact integer centi-unit rewrite.
EXPECTED_DIVERGENCES = {
    "tiny": {"set_ops_retained_customers", "j1_fuzzy_difflib"},
    "ties": {"set_ops_retained_customers"},
    "nulls": {"set_ops_retained_customers"},
    "unicode": {"set_ops_retained_customers", "mm_audio_peaks"},
    "negatives": {"set_ops_retained_customers"},
    "bigmoney": {"set_ops_retained_customers"},
    "longspan": {"set_ops_retained_customers"},
    "dupes": {
        "asof_signup_attribution",
        "curriculum_interleave",
        "dedup_containment",
        "dedup_minhash_estimate_gate",
        "dedup_minhash_lsh",
        "dedup_minhash_recall_eval",
        "dedup_ngram_jaccard",
        "dedup_source_matrix",
        "emb_centroid_classifier_eval",
        "emb_knn_eval",
        # emb_silhouette_eval: same per-vec_id precondition as the
        # centroid/knn evals — the oracle's vec_id-keyed distance
        # grouping collapses duplicated vectors while the map-side
        # operator scores each physical row
        "emb_silhouette_eval",
        "max_drawdown_user",
        "mm_feature_topk",
        "retrieval_mrr_eval",
        "retrieval_ndcg_eval",
        "revenue_gini",
        "session_funnel_conversion",
        "session_peak_concurrency",
        # sessionize_events flickers run-to-run under dupes: row_number
        # over fully-duplicated (ts, event_id) rows has no total order,
        # so Spark's pick varies per execution and matches the oracle
        # only by luck (r7's 50-row tool run caught it; a 25-row run can
        # pass) — pinned because it CAN diverge, the class definition
        "sessionize_events",
        "set_ops_retained_customers",
        "sim_ann_lsh",
        "sim_cosine_topk",
        "stream_session_window",
        "text_boilerplate_strip",
    },
}


@pytest.mark.parametrize(
    "label,n_rows,mode", SWEEP_GATES, ids=[g[0] for g in SWEEP_GATES]
)
def test_every_registered_query_survives_adversarial_tables(
    spark, tmp_path_factory, label, n_rows, mode
):
    """Every registry query must execute (not crash) against the
    adversarial mirror for this mode — see SWEEP_GATES for the failure
    classes each mode has caught — AND, when it has an oracle, its
    cross-engine VALUE comparison must either match or be one of the
    pinned EXPECTED_DIVERGENCES for the mode (r8 upgrade: the sweep
    value gate is now part of the suite; any divergence outside the
    pinned set fails here instead of updating a doc)."""
    import __spark_entry__ as entrymod

    from tests.oracle_harness import compare, map_registry
    from tools.tiny_sweep import build

    out_dir = str(tmp_path_factory.mktemp(f"{label}_sf"))
    build(n_rows, out_dir, mode=mode)
    oracles = entrymod.oracle_sql()

    def check(item):
        """(kind, message) for one query: kind is None (clean), "crash"
        or "diverged"."""
        name, fn = item
        sql = oracles.get(name)
        if sql is None:
            try:
                fn(spark, out_dir).collect()
            except Exception as e:  # noqa: BLE001 — collecting ALL failures
                return "crash", str(e).split("\n")[0][:160]
            return None, ""
        try:
            ok, msg = compare(spark, fn, sql, out_dir)
        except Exception:  # noqa: BLE001 — classify by re-running Spark alone
            try:
                fn(spark, out_dir).collect()
            except Exception as e2:  # noqa: BLE001
                return "crash", str(e2).split("\n")[0][:160]
            return "diverged", "oracle-side error"
        return (None, "") if ok else ("diverged", msg[:120])

    items = list(entrymod.queries().items())
    results = map_registry(check, items)
    crashes, diverged = {}, {}
    for (name, _), (kind, msg) in zip(items, results):
        if kind == "crash":
            crashes[name] = msg
        elif kind == "diverged":
            diverged[name] = msg
    assert not crashes, crashes
    unexpected = {n: m for n, m in diverged.items() if n not in EXPECTED_DIVERGENCES[label]}
    assert not unexpected, f"NEW cross-engine divergences under --{label}: {unexpected}"
