"""Property tests for the round-7 model-development queries.

The DuckDB oracles (auto-parameterized in test_oracle_parity) pin
cross-engine VALUE equality; these tests pin the SEMANTICS — that the
max-min closed form really is PAV, that the interleave really
interleaves, that the noise ladder really is the claimed rational law.
"""

from fractions import Fraction

import pytest

from etl_dashboard_project_1_spark.plans import (
    experiment_queries,
    profile_queries,
    timeseries_queries,
    training_queries,
)


# --- isotonic calibration ------------------------------------------------------

def _reference_pav(bins):
    """Textbook iterative pool-adjacent-violators on (n, p) bins in
    ascending score order; returns each bin's pooled mean as an exact
    Fraction."""
    blocks = [[n, p] for n, p in bins]  # [weight, pos-count]
    out_blocks = []
    for b in blocks:
        out_blocks.append(list(b))
        while len(out_blocks) >= 2 and (
            Fraction(out_blocks[-2][1], out_blocks[-2][0])
            >= Fraction(out_blocks[-1][1], out_blocks[-1][0])
        ):
            n2, p2 = out_blocks.pop()
            out_blocks[-1][0] += n2
            out_blocks[-1][1] += p2
    # expand pooled block means back to per-bin values
    expanded, bi = [], 0
    for n, p in out_blocks:
        consumed = 0
        while consumed < n:
            consumed += bins[bi][0]
            expanded.append(Fraction(p, n))
            bi += 1
    return expanded


def test_isotonic_matches_reference_pav(spark, sf_dir):
    rows = sorted(
        training_queries.isotonic_calibration(spark, sf_dir).collect(),
        key=lambda r: r["bin_e2"],
    )
    ref = _reference_pav([(r["n_docs"], r["n_pos"]) for r in rows])
    for r, f in zip(rows, ref):
        assert r["fit_ppm"] == (f.numerator * 1_000_000) // f.denominator, (
            r["bin_e2"],
            r["fit_ppm"],
            f,
        )


def test_isotonic_fit_is_monotone_and_bounded(spark, sf_dir):
    rows = sorted(
        training_queries.isotonic_calibration(spark, sf_dir).collect(),
        key=lambda r: r["bin_e2"],
    )
    assert rows, "empty calibration frame"
    prev = -1
    for r in rows:
        assert 0 <= r["fit_ppm"] <= 1_000_000
        assert r["fit_ppm"] >= prev, "PAV output must be non-decreasing"
        prev = r["fit_ppm"]
        assert 0 <= r["n_pos"] <= r["n_docs"]


# --- curriculum interleave -----------------------------------------------------

def test_curriculum_conserves_and_balances(spark, sf_dir):
    from etl_dashboard_project_1_spark.session import load_table

    rows = training_queries.curriculum_interleave(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_src = docs.select("source").distinct().count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # round-robin property: within any CURRICULUM_BLOCK consecutive
    # positions a source appears at most ceil(BLOCK / n_sources) + 1
    # times (the +1 covers block boundaries splitting a cycle)
    cap = -(-training_queries.CURRICULUM_BLOCK // n_src) + 1
    for r in rows:
        assert r["n_docs"] <= cap, (r["block"], r["source"], r["n_docs"])
        assert r["min_pos"] >= r["block"] * training_queries.CURRICULUM_BLOCK + 1
        assert r["max_pos"] <= (r["block"] + 1) * training_queries.CURRICULUM_BLOCK
    # block shares sum to 10000 up to per-source floor loss
    by_block = {}
    for r in rows:
        by_block.setdefault(r["block"], []).append(r["share_bp"])
    for blk, shares in by_block.items():
        assert 10000 - len(shares) <= sum(shares) <= 10000, (blk, shares)


# --- discrete-Laplace noisy counts ---------------------------------------------

def test_dp_threshold_ladder_is_the_exact_rational_law():
    t = profile_queries._dp_thresholds()
    assert len(t) == 2 * profile_queries.DP_NOISE_MAX + 1
    assert t[-1] == profile_queries._DP_WHEEL
    assert sorted(t) == t
    # per-outcome mass = exact law mass, floored onto the wheel: the
    # k-th slot width must be within 1 of P(k) * wheel
    a = Fraction(1, 2)
    p0 = (1 - a) / (1 + a)
    tail = (p0 * a**profile_queries.DP_NOISE_MAX) / (1 - a)
    prev = 0
    for k, thr in zip(range(-profile_queries.DP_NOISE_MAX, profile_queries.DP_NOISE_MAX + 1), t):
        width = thr - prev
        mass = tail if abs(k) == profile_queries.DP_NOISE_MAX else p0 * a ** abs(k)
        exact = mass * profile_queries._DP_WHEEL
        assert abs(width - exact) < 1, (k, width, float(exact))
        prev = thr


def test_dp_noisy_counts_clamped_and_deterministic(spark, sf_dir):
    df1 = {(r["event_type"], r["day"]): r for r in profile_queries.dp_noisy_counts(spark, sf_dir).collect()}
    df2 = {(r["event_type"], r["day"]): r for r in profile_queries.dp_noisy_counts(spark, sf_dir).collect()}
    assert df1.keys() == df2.keys() and df1
    for k, r in df1.items():
        assert -profile_queries.DP_NOISE_MAX <= r["noise"] <= profile_queries.DP_NOISE_MAX
        assert r["noisy_n"] == max(r["n"] + r["noise"], 0)
        assert df2[k]["noise"] == r["noise"], "noise must be a pure key function"


# --- adjacent-day churn --------------------------------------------------------

def test_churn_jaccard_invariants(spark, sf_dir):
    rows = timeseries_queries.churn_jaccard_daily(spark, sf_dir).collect()
    assert rows, "expected at least one adjacent-day pair"
    for r in rows:
        assert 0 <= r["n_both"] <= min(r["n_day"], r["n_next"])
        assert 0 <= r["jaccard_bp"] <= r["retention_bp"] <= 10000


# --- per-fold CV scores --------------------------------------------------------

def test_cv_fold_scores_confusion_closes(spark, sf_dir):
    from etl_dashboard_project_1_spark.session import load_table

    rows = training_queries.cv_fold_scores(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert {r["fold"] for r in rows} <= set(range(5))
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_docs"]
        assert 0 <= r["acc_bp"] <= 10000
        for m in ("prec_bp", "rec_bp"):
            assert r[m] == -1 or 0 <= r[m] <= 10000


# --- Mann-Whitney U ------------------------------------------------------------

def test_mann_whitney_matches_pairwise_definition(spark, sf_dir):
    """U1 from the midrank formula must equal the pairwise definition
    2*U1 = 2*#{(a,b): v_a > v_b} + #{(a,b): v_a = v_b} computed by brute
    force over the cohort values, and the two U's must close."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import sampling
    from etl_dashboard_project_1_spark.session import load_table

    r = experiment_queries.mann_whitney_value_test(spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
            (sampling.hash_bucket(F.col("user_id"), "mw", 2) == 0).alias("a"),
        )
        .collect()
    )
    va = sorted(x["v"] for x in ev if x["a"])
    vb = sorted(x["v"] for x in ev if not x["a"])
    wins = sum(1 for x in va for y in vb if x > y)
    ties = sum(1 for x in va for y in vb if x == y)
    assert (r["n_a"], r["n_b"]) == (len(va), len(vb))
    assert r["u1_x2"] == 2 * wins + ties
    assert r["u1_x2"] + r["u2_x2"] == 2 * r["n_a"] * r["n_b"]
    assert 0 <= r["auc_bp"] <= 10000


# --- SPRT ----------------------------------------------------------------------

def test_sprt_llr_recomputes_and_decisions_respect_boundaries(spark, sf_dir):
    rows = sorted(
        experiment_queries.sprt_conversion_monitor(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    cum = 0
    for r in rows:
        cum += r["n_succ"] * experiment_queries.SPRT_L_SUCC + (
            r["n_trials"] - r["n_succ"]
        ) * experiment_queries.SPRT_L_FAIL
        assert r["llr_e6"] == cum
        want = (
            "accept_h1"
            if cum >= experiment_queries.SPRT_A_E6
            else ("accept_h0" if cum <= experiment_queries.SPRT_B_E6 else "continue")
        )
        assert r["decision"] == want
        assert 0 <= r["n_succ"] <= r["n_trials"]


# --- RBO leaderboard drift -------------------------------------------------------

def test_rbo_extremes_on_constructed_days(spark, tmp_path):
    """Identical adjacent-day leaderboards score exactly sum(C_m)
    (truncated RBO of identical lists); fully-disjoint ones score 0."""
    import datetime
    import os as _os

    rows = []
    eid = 0
    # day 1 and day 2: identical top-10 (users 1..10, value 110-10*u)
    for d in (1, 2):
        for u in range(1, 11):
            eid += 1
            rows.append(
                (eid, datetime.datetime(2024, 1, d, 12, 0), u, "purchase",
                 float(110 - 10 * u), "{}")
            )
    # day 3: disjoint users 101..110
    for u in range(101, 111):
        eid += 1
        rows.append(
            (eid, datetime.datetime(2024, 1, 3, 12, 0), u, "purchase",
             float(u), "{}")
        )
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(_os.path.join(sf, "events.parquet"))
    got = {r["day"].isoformat(): (r["n_common"], r["rbo_e6"])
           for r in timeseries_queries.rbo_leaderboard_drift(spark, sf).collect()}
    assert got["2024-01-01"] == (10, sum(timeseries_queries._RBO_C))
    assert got["2024-01-02"] == (0, 0)


def test_rbo_bounds_on_testdata(spark, sf_dir):
    full = sum(timeseries_queries._RBO_C)
    for r in timeseries_queries.rbo_leaderboard_drift(spark, sf_dir).collect():
        assert 0 <= r["n_common"] <= timeseries_queries.RBO_K
        assert 0 <= r["rbo_e6"] <= full


# --- CUPED ---------------------------------------------------------------------

def test_cuped_theta_and_adjustment_recompute(spark, sf_dir):
    """theta and the adjusted means must equal a NumPy-free Python
    recomputation from the per-user integer totals, and the
    user-weighted adjusted means must average back to the grand mean
    (CUPED preserves the overall mean by construction)."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import sampling
    from etl_dashboard_project_1_spark.session import load_table

    rows = {r["cohort"]: r for r in experiment_queries.cuped_adjusted_ab(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
            sampling.hash_bucket(F.col("user_id"), "cuped", 2).alias("g"),
        )
        .collect()
    )
    import datetime

    cut = datetime.date(2024, 1, 16)
    users = {}
    for x in ev:
        pre, post, g = users.setdefault(x["user_id"], [0, 0, x["g"]])
        users[x["user_id"]] = [
            pre + (x["c"] if x["d"] < cut else 0),
            post + (x["c"] if x["d"] >= cut else 0),
            g,
        ]
    n = len(users)
    sx = sum(u[0] for u in users.values())
    sy = sum(u[1] for u in users.values())
    sxy = sum(u[0] * u[1] for u in users.values())
    sxx = sum(u[0] * u[0] for u in users.values())
    den = float(n) * sxx - float(sx) * sx
    theta = (float(n) * sxy - float(sx) * sy) / den
    import math

    total_w_adj = 0.0
    for g in (0, 1):
        gu = [u for u in users.values() if u[2] == g]
        gy, gx, ng = sum(u[1] for u in gu), sum(u[0] for u in gu), len(gu)
        adj = float(gy) / ng - theta * (float(gx) / ng - float(sx) / n)
        assert rows[g]["n_users"] == ng
        assert rows[g]["theta_e6"] == math.floor(theta * 1000000 + 0.5)
        assert rows[g]["adj_mean_e2"] == math.floor(adj * 100 + 0.5)
        total_w_adj += adj * ng
    # CUPED preserves the grand mean: sum_g ng*adj_g == sum(post)
    assert abs(total_w_adj - sy) < 1e-6 * max(1, sy)
