"""Unit gates for the round-8 post-seal wave operators that carry their
own algorithmic machinery (the oracle pairs are certified end-to-end by
tests/test_scale_plans.py's sweep gates and tools/driver_emulation.py;
these tests pin the pieces a cross-engine hash match cannot see — the
hand-computable ground truth)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def _und(spark, pairs):
    """Doubled (undirected) edge frame from (a, b) tuples."""
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_kcore_peel_cascades_to_hand_answer(spark):
    """Chain-into-triangle graph: the 2-core must peel the chain
    completely (each removal exposes the next) and keep exactly the
    triangle — the cascade is what distinguishes k-core from a one-shot
    degree filter."""
    from etl_dashboard_project_1_spark.operators.graph import kcore_edges

    # triangle {1,2,3} + chain 3-4-5-6 hanging off it
    und = _und(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)])
    core = kcore_edges(und, k=2, max_rounds=10)
    nodes = sorted(r["src"] for r in core.select("src").distinct().collect())
    assert nodes == [1, 2, 3]
    # one-shot degree filter would have kept 4 and 5 (degree 2 before
    # the cascade) — assert the iterative answer differs from it
    one_shot = (
        und.withColumn("_d", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .filter(F.col("_d") >= 2)
        .select("src")
        .distinct()
        .count()
    )
    assert one_shot > 3


def test_kcore_round_bound_is_part_of_the_contract(spark):
    """With max_rounds=1 the same graph keeps the partially-peeled set
    (only degree-1 leaves dropped) — the bound is a documented cap, not
    a convergence assumption."""
    from etl_dashboard_project_1_spark.operators.graph import kcore_edges

    und = _und(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)])
    one_round = kcore_edges(und, k=2, max_rounds=1)
    nodes = sorted(r["src"] for r in one_round.select("src").distinct().collect())
    # round 1 drops only the 5-6 edge's leaf endpoint (6, degree 1) and
    # with it 5-6; nodes 4 and 5 still look 2-connected until round 2
    assert nodes == [1, 2, 3, 4, 5]


def test_kcore_empty_graph_and_total_collapse(spark):
    """Empty input stays empty; a bare chain has no 2-core at all."""
    from etl_dashboard_project_1_spark.operators.graph import kcore_edges

    empty = _und(spark, [(1, 2)]).filter(F.lit(False))
    assert kcore_edges(empty, k=2, max_rounds=5).count() == 0
    chain = _und(spark, [(1, 2), (2, 3), (3, 4)])
    assert kcore_edges(chain, k=2, max_rounds=10).count() == 0


def test_logrank_terms_match_hand_computation(spark):
    """The log-rank O−E/variance construction on the real table must
    reproduce an independent driver-side recomputation from the same
    lifetimes (the kruskal mirrored-algebra lesson: a cross-engine hash
    match cannot catch a formula slip mirrored into both engines)."""
    import math

    from etl_dashboard_project_1_spark.plans.experiment_queries import (
        LOGRANK_CENSOR_DAYS,
        logrank_survival_test,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["duration"]: r
        for r in logrank_survival_test(spark, sf).collect()
    }

    # independent recomputation in plain python
    import duckdb

    rows = duckdb.sql(
        f"""
        WITH users AS (
          SELECT user_id, min(ts::DATE) AS f, max(ts::DATE) AS l,
                 ('0x' || substr(md5(user_id::VARCHAR || 'ab'), 1, 8))::BIGINT
                   % 10000 % 2 AS arm
          FROM read_parquet('{sf}/events.parquet')
          WHERE user_id IS NOT NULL GROUP BY 1
        ), anchor AS (SELECT max(l) AS e FROM users)
        SELECT (l - f), CASE WHEN (e - l) >= {LOGRANK_CENSOR_DAYS}
                             THEN 1 ELSE 0 END, arm
        FROM users, anchor
        """
    ).fetchall()
    durations = sorted({d for d, _, _ in rows}, reverse=True)
    r1 = r2 = 0
    per = {}
    for d in durations:
        m1 = sum(1 for x, _, a in rows if x == d and a == 0)
        m2 = sum(1 for x, _, a in rows if x == d and a == 1)
        e1 = sum(ev for x, ev, a in rows if x == d and a == 0)
        e2 = sum(ev for x, ev, a in rows if x == d and a == 1)
        r1 += m1
        r2 += m2
        per[d] = (r1, r2, e1, e2)
    for d, (rr1, rr2, e1, e2) in per.items():
        if e1 + e2 < 1:
            assert d not in got
            continue
        row = got[d]
        assert (row["n_risk_a"], row["n_risk_b"]) == (rr1, rr2)
        assert (row["events_a"], row["events_b"]) == (e1, e2)
        n, et = rr1 + rr2, e1 + e2
        # ±1 at e6 scale (r8 ADVICE): the engine floors ITS double
        # evaluation; a quotient 1 ulp from an integer boundary may
        # floor differently than this python recomputation — exact
        # equality would flake if fixture data ever lands on one.
        assert abs(row["oe_e6"] - math.floor(1e6 * (e1 - et * rr1 / n))) <= 1
        if n > 1:
            assert abs(row["v_e6"] - math.floor(
                1e6 * (et * rr1 / n * rr2 / n * (n - et) / (n - 1))
            )) <= 1


def test_kruskal_hand_oracle(spark, tmp_path):
    """Values {1,2,3} in 3 singleton groups → H = 2 exactly (the
    textbook example that caught the mirrored /4 slip)."""
    import duckdb

    from etl_dashboard_project_1_spark.plans.experiment_queries import (
        kruskal_wallis_value_by_type,
    )

    out = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * FROM (VALUES
          (1::BIGINT, TIMESTAMP '2024-01-01', 1::BIGINT, 'a', 0.01::DOUBLE, NULL::VARCHAR),
          (2, TIMESTAMP '2024-01-01', 2, 'b', 0.02, NULL),
          (3, TIMESTAMP '2024-01-01', 3, 'c', 0.03, NULL)
        ) t(event_id, ts, user_id, event_type, value, props))
        TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    row = kruskal_wallis_value_by_type(spark, out).collect()[0]
    assert row["n_total"] == 3 and row["k_groups"] == 3
    assert row["h_e6"] == 2_000_000


def test_q1_rounding_division_survives_100tb_headroom(spark):
    """Review catch: `(_sc + 5000) div 10000` returns BIGINT and silently
    wraps once the quotient passes ~9.2e18 — 12x below q1's certified
    100 TB charge-sum bound. The decimal floor form must match python
    ground truth at and beyond the wrap point."""
    cases = [
        92233720368547758080000,          # the wrap-reproducing probe
        1099999999999999999999995000,     # ~the certified 1.1e24 bound
        123456789,
    ]
    for x in cases:
        got = spark.sql(
            f"SELECT CAST(floor((CAST({x} AS DECIMAL(38,0)) + 5000) / 10000)"
            " AS DECIMAL(38,0)) AS v"
        ).collect()[0][0]
        assert int(got) == (x + 5000) // 10000


def test_langid_kappa_null_text_is_excluded_both_engines(spark, tmp_path):
    """Review catch: a NULL-text document with non-NULL lang was scored
    'und' by Spark but fell through the SQL CASE's ELSE branch — now
    excluded by mirrored filters. The crafted scenario must hash-match."""
    import duckdb

    from tests.oracle_harness import compare

    import __spark_entry__ as entrymod

    out = str(tmp_path)
    duckdb.connect().execute(
        f"""COPY (SELECT * FROM (VALUES
          (1::BIGINT, NULL::VARCHAR, 'fr', 'web', 0::BIGINT),
          (2, 'le la les des est sont avec pour dans ce cette', 'fr', 'web', 10),
          (3, 'the of and is in to it that was for this with', 'en', 'web', 10)
        ) t(doc_id, text, lang, source, n_chars))
        TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    q, o = entrymod.queries(), entrymod.oracle_sql()
    ok, msg = compare(
        spark, q["langid_kappa_eval"], o["langid_kappa_eval"], out
    )
    assert ok, msg


def test_cochran_armitage_matches_textbook_conditional_form(spark):
    """The cross-multiplied CA z must equal the textbook conditional
    form (T − K·S1/N)/sqrt(K(N−K)/(N(N−1))·(S2 − S1²/N)) recomputed
    independently — a first draft divided the variance by an extra N,
    inflating z by sqrt(N) in BOTH engines (the mirrored-algebra class
    the cross-engine hash gate cannot see)."""
    import math

    import duckdb

    from etl_dashboard_project_1_spark.plans.experiment_queries import (
        cochran_armitage_trend,
    )

    sf = "/root/testdata/sf0.001"
    row = cochran_armitage_trend(spark, sf).collect()[0]
    bins = duckdb.sql(
        f"""
        WITH users AS (
          SELECT CAST(length(bin(count(*))) - 1 AS BIGINT) AS s,
                 max(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                               AND value > 150 THEN 1 ELSE 0 END) AS y
          FROM read_parquet('{sf}/events.parquet')
          WHERE user_id IS NOT NULL GROUP BY user_id
        )
        SELECT s, count(*), sum(y) FROM users GROUP BY 1
        """
    ).fetchall()
    N = sum(n for _, n, _ in bins)
    K = sum(k for *_, k in bins)
    S1 = sum(s * n for s, n, _ in bins)
    S2 = sum(s * s * n for s, n, _ in bins)
    T = sum(s * k for s, _, k in bins)
    if N >= 2 and 0 < K < N and N * S2 - S1 * S1 > 0:
        var = K * (N - K) / (N * (N - 1)) * (S2 - S1 * S1 / N)
        z_true = (T - K * S1 / N) / math.sqrt(var)
        # ±1 at e6 scale (r8 ADVICE): floor of a double quotient 1 ulp
        # from an integer boundary may differ between the engine's
        # evaluation order and this recomputation.
        assert abs(row["z_e6"] - math.floor(1e6 * z_true)) <= 1
    else:
        assert row["z_e6"] is None
