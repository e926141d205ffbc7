"""Round-9 addition: the multiple-comparisons capstone the statistical
suite opened —

* Benjamini-Hochberg FDR keep set — the repo now ships ~20
  hypothesis-test queries (MW-U, Kruskal-Wallis, McNemar, log-rank,
  runs, Cochran-Armitage, Durbin-Watson, ...); any user running a
  FAMILY of such tests per batch needs the multiple-comparisons
  correction, not per-test α. This query demonstrates the full BH
  step-up procedure end to end on a concrete family: one two-sample
  z-test per nation (mean customer account balance vs all other
  nations), distribution-free Chebyshev p-bounds, BH rank/threshold/
  adjusted-p/keep columns.

House rules as in round8..round14_queries: scalar outputs, counts as
long, floor-form integer scalings, integer division only on
non-negative operands, decimal(38,0)/HUGEINT for wide products, no
runtime transcendentals, fixed-shape floor(1e6·expr) doubles for
irreducibly real-valued statistics, NULLs excluded by mirrored
filters, degenerate cells via mirrored CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import CENTS_SQL, cents
from ..session import load_table

# --- Benjamini-Hochberg FDR keep set over a per-nation test family ---------

#: BH target false-discovery rate α = 0.05, e6-scaled plan literal
BH_ALPHA_E6 = 50_000

#: conservative double bound for 1e6*z2 before the floor->BIGINT cast:
#: any double strictly below 9.0e18 floors to a value inside int64 in
#: both engines; past it Spark saturates while DuckDB raises, so both
#: sides emit NULL (the theil_sen representation-bound pattern,
#: round8_queries.py:1477).
Z2_E6_DOUBLE_BOUND = "9.0e18"


def bh_fdr_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a family of m
    two-sample z-tests — one per nation, mean customer account balance
    (cents) against all OTHER nations (Welch denominator, population
    variances). Per test: z² = (mean_g − mean_rest)² /
    (var_g/n_g + var_rest/n_rest); the p-value is the two-sided
    CHEBYSHEV bound p = min(1, 1/z²) — distribution-free, exact
    algebra, no Φ (the zero-runtime-transcendentals rule; BH on
    super-uniform p-bounds remains valid FDR control, just
    conservative, and the bound is documented in the output contract).
    BH: rank p ascending, k* = max{i : p_(i) ≤ i·α/m}, keep ranks
    ≤ k*; adjusted p_(i) = min(1, min_{j≥i} p_(j)·m/j).

    Exactness: per-nation (n, Σcents, Σcents²) are exact integers
    (squares ride decimal(38,0)/HUGEINT); z² is ONE fixed-shape double
    expression over them; p_e6 = min(1e6, floor(1e6/z²)) — the z² ≤ 1
    branch short-circuits to 1e6 so the floored ratio never exceeds
    BIGINT. Every BH decision is then INTEGER arithmetic: the step-up
    condition is p_e6·m ≤ i·α_e6, and adjusted-p rides
    (p_e6·m) div i (non-negative operands) under a reverse running
    min — a knife-edge double can shift one p_e6 by 1, never corrupt
    the comparison logic. Tests with n_g < 2, n_rest < 2, or a zero
    variance denominator are excluded by mirrored filters (they are
    not part of the family; m counts only testable nations).
    Ties in p_e6 are ranked by nation name — deterministic and
    mirrored; the step-up max-k rule keeps tied members consistently.

    Scale shape: a broadcast nation join riding the customer scan,
    then one nationkey aggregate (the only data-sized shuffle); the
    global roll-up is a 1-row broadcast crossJoin; every window (rank,
    k*, reverse running min) sits on the |nations|-bounded test frame
    (the kendall-tau justification for unpartitioned windows over
    aggregate-reduced frames)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull() & F.col("c_nationkey").isNotNull()
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_nk"), F.col("n_name").alias("nation_name")
    )
    # join BEFORE the aggregate, mirroring the oracle's GROUP BY 1,2
    # shape exactly — agg-then-join diverges when nation keys are
    # duplicated (the --dupes sweep caught it: 2 post-agg rows per
    # nation vs the oracle's 1 doubled-count row). The broadcast hash
    # join rides the customer scan; the groupBy is still the single
    # data-sized shuffle.
    per = (
        cust.join(
            F.broadcast(nat), cust["c_nationkey"] == nat["_nk"]
        )
        .groupBy("_nk", "nation_name")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(cents("c_acctbal")).alias("_s"),
            F.sum(
                cents("c_acctbal").cast("decimal(38,0)") * cents("c_acctbal")
            ).alias("_q"),
        )
    )
    gl = per.agg(
        F.sum("_n").alias("_nt"),
        F.sum("_s").alias("_st"),
        F.sum("_q").alias("_qt"),
    )
    j = per.crossJoin(F.broadcast(gl)).selectExpr(
        "nation_name",
        "_n",
        "_s",
        "_q",
        "CAST(_nt - _n AS BIGINT) AS _nr",
        "CAST(_st - _s AS BIGINT) AS _sr",
        "CAST(_qt - _q AS DECIMAL(38,0)) AS _qr",
    )
    mean_g = "(CAST(_s AS DOUBLE) / _n)"
    mean_r = "(CAST(_sr AS DOUBLE) / _nr)"
    var_g = f"(CAST(_q AS DOUBLE) / _n - {mean_g} * {mean_g})"
    var_r = f"(CAST(_qr AS DOUBLE) / _nr - {mean_r} * {mean_r})"
    den = f"({var_g} / _n + {var_r} / _nr)"
    z2 = f"(({mean_g} - {mean_r}) * ({mean_g} - {mean_r}) / {den})"
    # z2_e6 representation bound (r10, mirrors theil_sen's pattern):
    # with low-variance/large-separation balances 1e6*z2 can exceed
    # int64 (~8.4e18 reproduced in review), where Spark's
    # floor(double)->BIGINT silently saturates but DuckDB's cast
    # errors. Both engines emit NULL past a conservative 9.0e18 double
    # bound instead (the comparison is one IEEE754 double op, bit-
    # identical in both engines); p_e6 is unaffected (z2 huge =>
    # floor(1e6/z2) = 0, always in range).
    tested = j.filter(F.expr(f"_n >= 2 AND _nr >= 2 AND {den} > 0")).selectExpr(
        "nation_name",
        "CAST(_n AS BIGINT) AS n_customers",
        f"CASE WHEN 1000000.0 * {z2} < {Z2_E6_DOUBLE_BOUND}"
        f" THEN CAST(floor(1000000.0 * {z2}) AS BIGINT) END AS z2_e6",
        f"CASE WHEN {z2} <= 1.0 THEN CAST(1000000 AS BIGINT)"
        f" ELSE CAST(floor(1000000.0 / {z2}) AS BIGINT) END AS p_e6",
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tested.withColumn(
        "bh_rank",
        F.row_number().over(Window.orderBy("p_e6", "nation_name")),
    ).withColumn("_m", F.count(F.lit(1)).over(w_all))
    w_rev = Window.orderBy("bh_rank").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    out = (
        ranked.withColumn(
            "_kstar",
            F.max(
                F.expr(
                    f"CASE WHEN p_e6 * _m <= bh_rank * {BH_ALPHA_E6}"
                    " THEN bh_rank ELSE 0 END"
                )
            ).over(w_all),
        )
        .withColumn(
            "padj_e6",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.min(F.expr("(p_e6 * _m) div bh_rank")).over(w_rev),
            ),
        )
        .selectExpr(
            "nation_name",
            "n_customers",
            "z2_e6",
            "p_e6",
            "CAST(bh_rank AS BIGINT) AS bh_rank",
            "CAST(_m AS BIGINT) AS m_tests",
            "padj_e6",
            "CAST(CASE WHEN bh_rank <= _kstar THEN 1 ELSE 0 END AS BIGINT)"
            " AS keep",
        )
    )
    return out


BH_FDR_SQL = f"""
WITH per AS (
  SELECT c.c_nationkey AS nk, n.n_name AS nation_name,
         count(*) AS n,
         sum({CENTS_SQL.format(x="c_acctbal")}) AS s,
         sum(CAST({CENTS_SQL.format(x="c_acctbal")} AS HUGEINT)
             * {CENTS_SQL.format(x="c_acctbal")}) AS q
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_acctbal IS NOT NULL AND c.c_nationkey IS NOT NULL
  GROUP BY 1, 2
),
gl AS (SELECT sum(n) AS nt, sum(s) AS st, sum(q) AS qt FROM per),
j AS (
  SELECT nation_name, n, s, q,
         CAST(nt - n AS BIGINT) AS nr,
         CAST(st - s AS BIGINT) AS sr,
         CAST(qt - q AS HUGEINT) AS qr
  FROM per, gl
),
zc AS (
  -- z2 materialised ONCE as a double (bit-exact: the identical
  -- deterministic expression the Spark side inlines)
  SELECT nation_name, n,
         (((CAST(s AS DOUBLE) / n) - (CAST(sr AS DOUBLE) / nr))
          * ((CAST(s AS DOUBLE) / n) - (CAST(sr AS DOUBLE) / nr))
          / ((CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / n
             + (CAST(qr AS DOUBLE) / nr
                - (CAST(sr AS DOUBLE) / nr) * (CAST(sr AS DOUBLE) / nr))
               / nr)) AS z2
  FROM j
  WHERE n >= 2 AND nr >= 2
        AND ((CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / n
             + (CAST(qr AS DOUBLE) / nr
                - (CAST(sr AS DOUBLE) / nr) * (CAST(sr AS DOUBLE) / nr))
               / nr) > 0
),
tested AS (
  SELECT nation_name,
         CAST(n AS BIGINT) AS n_customers,
         -- representation bound mirrored from the Spark side: NULL
         -- once 1e6*z2 could leave int64 (DuckDB cast would raise,
         -- Spark would saturate)
         CASE WHEN 1000000.0 * z2 < {Z2_E6_DOUBLE_BOUND}
              THEN CAST(floor(1000000.0 * z2) AS BIGINT) END AS z2_e6,
         CASE WHEN z2 <= 1.0
              THEN CAST(1000000 AS BIGINT)
              ELSE CAST(floor(1000000.0 / z2) AS BIGINT) END AS p_e6
  FROM zc
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_e6, nation_name) AS bh_rank,
         count(*) OVER () AS m
  FROM tested
),
marked AS (
  SELECT *,
         max(CASE WHEN p_e6 * m <= bh_rank * {BH_ALPHA_E6}
                  THEN bh_rank ELSE 0 END) OVER () AS kstar,
         least(CAST(1000000 AS BIGINT),
               min((p_e6 * m) // bh_rank) OVER (
                 ORDER BY bh_rank
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               )) AS padj_e6
  FROM ranked
)
SELECT nation_name, n_customers, z2_e6, p_e6,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       CAST(m AS BIGINT) AS m_tests,
       padj_e6,
       CAST(CASE WHEN bh_rank <= kstar THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM marked
"""
