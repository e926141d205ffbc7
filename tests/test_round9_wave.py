"""Round-9 wave (single query, per the r8 verdict growth cap):
Benjamini-Hochberg FDR keep set — hand-oracle and cross-engine gates.

The mirrored-algebra lesson (kruskal / cochran-armitage): the
cross-engine hash gate cannot see a formula slip mirrored into both
engines, so the BH procedure is recomputed independently in plain
python from the raw balances and every output column is checked
against it.
"""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_dashboard_project_1_spark.plans.experiment_queries import (
    BH_ALPHA_E6,
    bh_fdr_keep_set,
)


def _write_fixture(out, rows):
    con = duckdb.connect()
    vals = ", ".join(
        f"({k}, 'cust{k}_{i}', {nk}, {bal}, 'SEG')"
        for i, (k, nk, bal) in enumerate(rows)
    )
    con.execute(
        f"""COPY (SELECT * FROM (VALUES {vals})
          t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment))
        TO '{out}/customer.parquet' (FORMAT PARQUET)"""
    )
    nations = sorted({nk for _, nk, _ in rows})
    nvals = ", ".join(f"({nk}, 'NATION_{nk}', 0)" for nk in nations)
    con.execute(
        f"""COPY (SELECT * FROM (VALUES {nvals})
          t(n_nationkey, n_name, n_regionkey))
        TO '{out}/nation.parquet' (FORMAT PARQUET)"""
    )


def _python_bh(rows):
    """Independent BH recomputation from the raw (nationkey, balance)
    pairs — same Chebyshev bound, same integer step-up/adjusted-p rules,
    implemented from the procedure's definition, not from the SQL."""
    by_nk = {}
    for _, nk, bal in rows:
        by_nk.setdefault(nk, []).append(math.floor(bal * 100 + 0.5))
    tested = []
    all_cents = [(nk, c) for nk, cs in by_nk.items() for c in cs]
    for nk, cs in sorted(by_nk.items()):
        rest = [c for onk, c in all_cents if onk != nk]
        n, nr = len(cs), len(rest)
        if n < 2 or nr < 2:
            continue
        mg, mr = sum(cs) / n, sum(rest) / nr
        vg = sum(c * c for c in cs) / n - mg * mg
        vr = sum(c * c for c in rest) / nr - mr * mr
        den = vg / n + vr / nr
        if not den > 0:
            continue
        z2 = (mg - mr) * (mg - mr) / den
        p_e6 = 1_000_000 if z2 <= 1.0 else math.floor(1_000_000.0 / z2)
        # r10 representation bound: NULL once 1e6*z2 could leave int64
        # (mirrors Z2_E6_DOUBLE_BOUND in both engines)
        z2_e6 = math.floor(1e6 * z2) if 1e6 * z2 < 9.0e18 else None
        tested.append((f"NATION_{nk}", n, z2_e6, p_e6))
    tested.sort(key=lambda t: (t[3], t[0]))
    m = len(tested)
    kstar = max(
        (i + 1 for i, t in enumerate(tested)
         if t[3] * m <= (i + 1) * BH_ALPHA_E6),
        default=0,
    )
    out = {}
    suffix_min = None
    adj = [0] * m
    for i in range(m - 1, -1, -1):
        v = (tested[i][3] * m) // (i + 1)
        suffix_min = v if suffix_min is None else min(suffix_min, v)
        adj[i] = min(1_000_000, suffix_min)
    for i, (name, n, z2_e6, p_e6) in enumerate(tested):
        out[name] = {
            "n_customers": n, "z2_e6": z2_e6, "p_e6": p_e6,
            "bh_rank": i + 1, "m_tests": m, "padj_e6": adj[i],
            "keep": 1 if i + 1 <= kstar else 0,
        }
    return out


#: one clearly-shifted nation (40, +10000-ish balances), two null nations
#: drawn from the same flat pattern, one singleton nation (excluded: n<2)
FIXTURE = (
    [(i, 10, 100.0 + (i % 7)) for i in range(20)]
    + [(100 + i, 20, 101.0 + (i % 5)) for i in range(20)]
    + [(200 + i, 40, 10000.0 + (i % 3)) for i in range(20)]
    + [(300, 30, 55.5)]
)


def test_bh_matches_independent_python_recomputation(spark, tmp_path):
    out = str(tmp_path)
    _write_fixture(out, FIXTURE)
    got = {r["nation_name"]: r.asDict() for r in bh_fdr_keep_set(spark, out).collect()}
    want = _python_bh(FIXTURE)
    assert set(got) == set(want)          # NATION_30 excluded (n=1)
    assert "NATION_30" not in got
    for name, w in want.items():
        g = got[name]
        for col in ("n_customers", "bh_rank", "m_tests", "keep"):
            assert g[col] == w[col], (name, col, g[col], w[col])
        # float-derived columns: ±1 at e6 scale (knife-edge floor rule)
        for col in ("z2_e6", "p_e6", "padj_e6"):
            assert abs(g[col] - w[col]) <= 1, (name, col, g[col], w[col])
    # the shifted nation must be the strongest discovery. NOTE the
    # vs-rest family COUPLES tests: NATION_40's 10000-ish balances drag
    # every other nation's rest-mean far from its own mean, so the flat
    # nations are legitimately significant too (first draft of this test
    # wrongly asserted keep=0 for them — the python recomputation said
    # otherwise); the global-null scenario below is where keep=0 lives.
    assert got["NATION_40"]["keep"] == 1
    assert got["NATION_40"]["bh_rank"] == 1


def test_bh_global_null_keeps_nothing(spark, tmp_path):
    """Three nations with EXACTLY the same balance multiset (21 rows of
    100+(i%7) each): every vs-rest mean difference is 0, so z² = 0,
    every p hits the 1e6 cap, and the keep set is empty — BH makes no
    discoveries under the global null."""
    out = str(tmp_path)
    rows = [
        (nk * 1000 + i, nk, 100.0 + (i % 7))
        for nk in (10, 20, 30)
        for i in range(21)
    ]
    _write_fixture(out, rows)
    got = bh_fdr_keep_set(spark, out).collect()
    assert len(got) == 3
    assert all(r["keep"] == 0 for r in got)
    assert all(r["p_e6"] == 1_000_000 for r in got)
    assert all(r["padj_e6"] == 1_000_000 for r in got)


def test_bh_crafted_scenario_hash_matches_oracle(spark, tmp_path):
    from tests.oracle_harness import compare

    import __spark_entry__ as entrymod

    out = str(tmp_path)
    _write_fixture(out, FIXTURE)
    q, o = entrymod.queries(), entrymod.oracle_sql()
    ok, msg = compare(spark, q["bh_fdr_keep_set"], o["bh_fdr_keep_set"], out)
    assert ok, msg


def test_bh_degenerate_zero_variance_family_is_empty(spark, tmp_path):
    """All-identical balances in every nation: every test's variance
    denominator is 0, so the family is empty — zero rows, no crash
    (the all-ties mirror of the sweep's --ties axis)."""
    out = str(tmp_path)
    _write_fixture(out, [(i, 10 + (i % 2) * 10, 42.0) for i in range(10)])
    assert bh_fdr_keep_set(spark, out).count() == 0


def test_bh_z2_e6_int64_bound_is_null_not_saturated(spark, tmp_path):
    """Pins the r10 ADVICE fix (bh_fdr_keep_set z2_e6): valid
    low-variance/large-separation balances push 1e6·z² past int64,
    where Spark's floor(double)→BIGINT used to SILENTLY SATURATE to
    9223372036854775807 while the DuckDB oracle raised
    ConversionException — crash-vs-value divergence at the driver
    gate. Both engines must now emit NULL past the 9.0e18 double
    bound, and the cross-engine hash must match.

    Scenario: two nations, each with within-nation cents variance of
    exactly 0.25 (adjacent-cent pairs — the smallest nonzero integer
    variance) but means 5e9 cents apart: z² = diff²/den ≈ 1e20, so
    1e6·z² ≈ 1e26 ≫ int64."""
    from tests.oracle_harness import compare

    import __spark_entry__ as entrymod

    out = str(tmp_path)
    rows = [
        (1, 10, 0.00), (2, 10, 0.01),
        (3, 20, 50_000_000.00), (4, 20, 50_000_000.01),
    ]
    _write_fixture(out, rows)
    got = {r["nation_name"]: r.asDict() for r in bh_fdr_keep_set(spark, out).collect()}
    assert len(got) == 2
    for name, g in got.items():
        assert g["z2_e6"] is None, (name, g["z2_e6"])   # NULL, not int64-max
        assert g["p_e6"] == 0                           # z2 huge => p floors to 0
        assert g["keep"] == 1
    # independent recomputation agrees (including the None bound)
    want = _python_bh(rows)
    for name, w in want.items():
        assert got[name]["z2_e6"] == w["z2_e6"] is None
    # and the DuckDB oracle no longer crashes: full hash gate
    q, o = entrymod.queries(), entrymod.oracle_sql()
    ok, msg = compare(spark, q["bh_fdr_keep_set"], o["bh_fdr_keep_set"], out)
    assert ok, msg


def test_theilsen_exact_floor_division_and_int64_bound(spark, tmp_path):
    """Pins the r9 --bigmoney fix: per-pair slope_e6 must be the EXACT
    floor of 1e6·Δcents/Δdays (including negative non-integral slopes,
    where trunc and floor differ by one), and a median outside int64
    must emit the mirrored NULL instead of Spark's silent
    floor(double)→long saturation."""
    import duckdb

    from etl_dashboard_project_1_spark.plans.timeseries_queries import (
        theil_sen_trend,
    )

    # three days, strictly falling revenue with non-integral negative
    # pairwise slopes: days 0,1,3 with cents 100.07, 99.90, 99.50
    # slopes_e6: (9990-10007)*1e6/1 = -17e6; (9950-10007)*1e6/3 =
    # -19000000; (9950-9990)*1e6/2 = -20000000 — median = -19000000
    # (exact); a trunc-based engine would give -18999999 for the /3
    # pair iff non-integral (here it IS integral, so craft one that
    # isn't): use cents 100.07, 99.90, 99.49 -> (9949-10007)*1e6/3 =
    # -19333333.33.. -> floor -19333334 (trunc gives -19333333).
    out = str(tmp_path)
    duckdb.connect().execute(
        f"""COPY (SELECT * FROM (VALUES
          (1::BIGINT, 1::BIGINT, 'O', 100.07::DOUBLE, DATE '2024-01-01', 'P'),
          (2, 1, 'O', 99.90, DATE '2024-01-02', 'P'),
          (3, 1, 'O', 99.49, DATE '2024-01-04', 'P')
        ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority))
        TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    row = theil_sen_trend(spark, out).collect()[0]
    assert row["n_days"] == 3 and row["n_pairs"] == 3
    # slopes: -17000000 (d1), floor(-58e8/3) = -19333334 (d3 pair),
    # -20500000 (d2 pair: (9949-9990)*1e6/2) -> sorted
    # [-20500000, -19333334, -17000000], lower median = -19333334
    assert row["theilsen_slope_e6"] == -19333334

    # int64-bound: one pair whose slope_e6 is ~9.3e18 > int64 max
    out2 = str(tmp_path / "big")
    import os

    os.makedirs(out2, exist_ok=True)
    duckdb.connect().execute(
        f"""COPY (SELECT * FROM (VALUES
          (1::BIGINT, 1::BIGINT, 'O', 0.0::DOUBLE, DATE '2024-01-01', 'P'),
          (2, 1, 'O', 93000000000000000.0, DATE '2024-01-02', 'P')
        ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority))
        TO '{out2}/orders.parquet' (FORMAT PARQUET)"""
    )
    row2 = theil_sen_trend(spark, out2).collect()[0]
    assert row2["n_pairs"] == 1
    assert row2["theilsen_slope_e6"] is None  # mirrored representation bound


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_bh_oracle_parity_at_both_sfs(spark, sf):
    from tests.oracle_harness import compare

    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    ok, msg = compare(spark, q["bh_fdr_keep_set"], o["bh_fdr_keep_set"], sf)
    assert ok, msg
