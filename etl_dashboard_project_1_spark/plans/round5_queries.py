"""Round-5 additions: the reference-parity capstone (vehicle pipeline
summary through an EXTERNAL oracle — the reference's own committed
artifact), plus a widened analytics/curation surface: skyline, KS drift,
Gini concentration, Benford audit, KMV set-intersection estimation,
sequence-continuity audit, per-user drawdown, fixed-k deterministic
sampling, order-backlog timeline, kNN label-vote eval, log2 length
histograms and a zone-map skip audit; post-window (round-6 queue):
interval-overlap join, per-group closed-form OLS trend,
largest-remainder quota allocation, and RFM segmentation.

House rules (see oracle_harness / driver canon): scalar outputs only
(never array/map/struct), counts cast to long, ratios as floor-form
integer basis points, cents via ``floor(x*100 + 0.5)`` (never
``round`` — the engines disagree on half-boundaries), randomness from
the md5 wheel, constants interpolated into BOTH engines from the same
Python value.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, sampling, vector
from ..operators.derive import CENTS_SQL, cents
from ..session import fan_out, load_table

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


# --- vehicle pipeline summary (reference-parity capstone) -------------------

def vehicle_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EP2 vehicle-homologation pipeline, gated against the
    reference's OWN committed artifact: run the full chain (sentinel
    ffill, date parse + year, D3 category normalization, D5 propulsion
    categorization, D8 weight bucketing, the J1/J2 fuzzy importer join)
    on the RAW column slice of the reference's intermediate dump, then
    aggregate by (year, propulsion category, vehicle class). The DuckDB
    oracle reads the reference's derived values from the SAME dump — so
    a green row certifies our derivations against the reference's, not
    against a mirror of our own logic. The full per-row, per-cell replay
    (7,569 rows, measure columns, gas-family means, RUT/IMP_COD) lives in
    tests/test_golden_replay.py; this query surfaces the categorical
    spine of that evidence through the external driver gate.

    Reference behavior: /root/reference/src/transform_pipeline.py:218-251
    (pandas chain), re-expressed as one Column-expression DAG in
    plans/vehicle_pipeline.py. Fixture inputs are data artifacts
    materialized once by tools/make_vehicle_fixture.py and committed.

    Scale shape: the pipeline itself is narrow transforms + one ffill
    (O(partitions) carry) + one blocked fuzzy join; the summary adds a
    single groupBy over ~100 (year × category × class) groups."""
    from . import vehicle_pipeline as vp

    raw = spark.read.parquet(os.path.join(_FIXTURES, "vehicle_raw.parquet"))
    catalog = spark.read.parquet(os.path.join(_FIXTURES, "vehicle_importers.parquet"))
    out = vp.vehicle_pipeline(raw, importer_catalog=catalog)
    return out.groupBy(
        F.col("AÑO").alias("anio"),
        F.col("CATEGORIA_PROPULSION").alias("cat_prop"),
        F.col("TIPO_LDV").alias("tipo_ldv"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("MARCA").alias("n_marcas"),
        F.count("RUT").cast("long").alias("n_rut"),
    )


VEHICLE_SUMMARY_SQL = f"""
SELECT CAST("AÑO" AS INT) AS anio,
       CATEGORIA_PROPULSION AS cat_prop,
       TIPO_LDV AS tipo_ldv,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT MARCA)::BIGINT AS n_marcas,
       sum(CASE WHEN RUT <> '' THEN 1 ELSE 0 END)::BIGINT AS n_rut
FROM read_parquet('{os.path.join(_FIXTURES, "vehicle_golden.parquet")}')
GROUP BY 1, 2, 3
"""


# --- skyline (pareto-front) query -------------------------------------------

def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline: the parts not dominated on (cheaper price,
    larger size) — the pareto front every "best value" dashboard needs.
    Part a dominates b when a.price <= b.price AND a.size >= b.size with
    at least one strict; kept rows are those where (1) no strictly
    cheaper part has size >= ours (RANGE-frame running max over price)
    and (2) no same-price part has size > ours (partition max).

    Scale shape: the classic O(n log n) sorted-sweep skyline as two
    window passes — one range-partitioned sort per brand, no self-join,
    no |parts|² candidate pairs (the anti-join formulation would be
    quadratic per brand). Core in operators/skyline.py (property-tested
    against a brute-force dominance model)."""
    from ..operators.skyline import skyline_2d

    part = fan_out(load_table(spark, sf_dir, "part"))
    p = part.select(
        "p_brand",
        "p_partkey",
        cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return skyline_2d(p, ["p_brand"], "price_cents", "size").select(
        F.col("p_brand").alias("brand"), "p_partkey", "price_cents", "size"
    )


SKYLINE_SQL = f"""
WITH p AS (
  SELECT p_brand, p_partkey,
         {CENTS_SQL.format(x="p_retailprice")} AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
),
flagged AS (
  SELECT p_brand, p_partkey, price_cents, size,
         max(size) OVER (PARTITION BY p_brand ORDER BY price_cents
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS cheaper_max,
         max(size) OVER (PARTITION BY p_brand, price_cents) AS same_max
  FROM p
)
SELECT p_brand AS brand, p_partkey, price_cents, size
FROM flagged
WHERE (cheaper_max IS NULL OR size > cheaper_max) AND size = same_max
"""


# --- two-sample KS drift gate ------------------------------------------------

def ks_value_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the purchase
    value distributions of two md5-split user cohorts: D = max over the
    pooled value domain of |F_a(v) - F_b(v)|, the standard distribution-
    equality test a data pipeline runs between a new ingest batch and its
    history (value_drift_tv bins first; KS works on the exact CDF and
    catches shifts binning smears).

    Exactness: D is computed in pure integer arithmetic —
    max |cum_a·N_b − cum_b·N_a| over distinct cents values, scaled to
    basis points only at the end — so both engines agree bit-for-bit.

    Scale shape: one groupBy to (cents, cohort) counts, then running
    sums over the DISTINCT VALUE DOMAIN (cents of a bounded price range
    — domain-bounded like column_encoding_advisor, not data-bounded);
    the cohort split is a map-side hash.

    Empty input (zero rankable purchase events) emits ZERO rows in both
    engines: the trailing isNotNull filter drops Spark's all-NULL
    ungrouped-agg row to match the oracle's empty GROUP BY."""
    # NULL values have no CDF position and NULL user ids no cohort —
    # both excluded in BOTH engines (review finding: a NULL value group
    # sorts NULLS FIRST in Spark / NULLS LAST in DuckDB, shifting every
    # cumulative count; a NULL cohort key hits the when/otherwise-vs-
    # CASE-ELSE asymmetry)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    g = ev.select(
        cents("value").alias("v"),
        (sampling.hash_bucket(F.col("user_id"), "ks", 2) == 0).alias("_a"),
    )
    per_v = g.groupBy("v").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    tot = cum.agg(F.max("ca").alias("na"), F.max("cb").alias("nb"))
    joined = cum.crossJoin(F.broadcast(tot))
    # Integer division end-to-end, in decimal(38,0) for headroom: the
    # numerator max|ca·nb − cb·na|·10000 exceeds int64 once each cohort
    # holds ~1e6+ events (~sf1+), and double division would silently
    # diverge from the oracle's HUGEINT `//`. All operands are
    # non-negative so Spark `div` (truncate) == DuckDB `//` (floor),
    # and the quotient is ≤ 10000 bp so the long result can't overflow.
    agg = joined.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(
            F.abs(
                F.col("ca").cast("decimal(38,0)") * F.col("nb")
                - F.col("cb").cast("decimal(38,0)") * F.col("na")
            )
        ).alias("_max_abs"),
    )
    # KS is undefined when a cohort is empty (possible only on tiny
    # inputs) — -1 sentinel, mirrored in the oracle (tiny-sweep class).
    # The trailing filter drops Spark's all-NULL ungrouped-agg row on
    # EMPTY input, matching the oracle's 0-row GROUP BY exactly (this
    # retires the docstring's former known-divergence).
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN (_max_abs * 10000)"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) ELSE -1 END AS BIGINT)"
        ).alias("ks_bp"),
    ).where(F.col("n_a").isNotNull())


KS_DRIFT_SQL = f"""
WITH g AS (
  SELECT {CENTS_SQL.format(x="value")} AS v,
         ('0x' || substr(md5(user_id::VARCHAR || 'ks'), 1, 8))::BIGINT % 2 = 0 AS a
  FROM events
  WHERE event_type = 'purchase'
    AND value IS NOT NULL AND user_id IS NOT NULL
),
per_v AS (
  SELECT v,
         sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb
  FROM g GROUP BY 1
),
cum AS (
  SELECT sum(na) OVER (ORDER BY v) AS ca,
         sum(nb) OVER (ORDER BY v) AS cb
  FROM per_v
),
tot AS (SELECT max(ca) AS na, max(cb) AS nb FROM cum)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(CASE WHEN na > 0 AND nb > 0
                 THEN max(abs(ca * nb - cb * na)) * 10000 // (na * nb)
                 ELSE -1 END AS BIGINT) AS ks_bp
FROM cum, tot
GROUP BY na, nb
"""


# --- Gini concentration ------------------------------------------------------

def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as a Gini coefficient over per-customer
    order totals (customers with no orders count as zero) — the
    inequality scalar behind "top-x% of customers drive y%" claims
    (user_value_pareto gives the curve; this gives the index).

    G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) with x ascending — rank-weighted and
    tie-invariant on VALUE ties because the tiebreaker (c_custkey) is
    part of the declared total order on both engines. Output in
    floor-form basis points.

    Scale shape: per-customer cents is one shuffle; the ascending rank
    uses layout.dense_ids_by — a range-partitioned sort with
    O(partitions) driver state, NOT a single-partition window; the
    rank-weighted sum accumulates in decimal(38) (an int64 sum would
    overflow past ~sf100)."""
    from ..operators import layout

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
        .join(cust, cust.c_custkey == F.col("o_custkey"), "right")
        .select("c_custkey", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    ranked = layout.dense_ids_by(
        rev, [F.asc("cents"), F.asc("c_custkey")], id_name="i"
    )
    tot = ranked.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("t"))
    joined = ranked.crossJoin(F.broadcast(tot))
    return joined.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("t").cast("long").alias("total_cents"),
        # zero total revenue (tiny-sweep class: every sampled customer
        # may be orderless) leaves Gini undefined — -1 sentinel, mirrored
        F.when(
            F.max("t") > 0,
            F.floor(
                F.lit(10000.0)
                * F.sum(
                    ((2 * F.col("i") - F.col("n") - 1) * F.col("cents")).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / (F.max("n").cast("double") * F.max("t").cast("double"))
            ),
        )
        .otherwise(-1)
        .cast("long")
        .alias("gini_bp"),
    )


GINI_SQL = f"""
WITH rev AS (
  SELECT c.c_custkey,
         coalesce(sum({CENTS_SQL.format(x="o_totalprice")}), 0) AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents ASC, c_custkey ASC) AS i FROM rev
),
tot AS (SELECT count(*) AS n, sum(cents) AS t FROM ranked)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(t AS BIGINT) AS total_cents,
       CAST(CASE WHEN t > 0
                 THEN floor(10000.0 * CAST(sum((2 * i - n - 1) * cents) AS DOUBLE)
                            / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)))
                 ELSE -1 END AS BIGINT) AS gini_bp
FROM ranked, tot
GROUP BY n, t
"""


# --- id-sequence continuity audit -------------------------------------------

def id_continuity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-allocation audit over the event-id space, per event type
    plus an __all__ rollup row: span occupancy (missing = span − distinct
    ids) and duplication (dups = rows − distinct ids). The ingestion
    health check that catches dropped batches (holes in the global
    sequence) and at-least-once replays (duplicate ids) before they skew
    downstream counts.

    Scale shape: one ROLLUP aggregate — count / distinct / min / max per
    group, no sort, no window."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("event_id").alias("n_ids"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
        .select(
            F.coalesce("event_type", F.lit("__all__")).alias("scope"),
            "n_rows",
            "n_ids",
            "min_id",
            "max_id",
            (F.col("max_id") - F.col("min_id") + 1 - F.col("n_ids"))
            .cast("long")
            .alias("n_missing_in_span"),
            (F.col("n_rows") - F.col("n_ids")).cast("long").alias("n_dup_rows"),
        )
    )


ID_CONTINUITY_SQL = """
SELECT coalesce(event_type, '__all__') AS scope,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT event_id)::BIGINT AS n_ids,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id,
       CAST(max(event_id) - min(event_id) + 1 - count(DISTINCT event_id) AS BIGINT)
         AS n_missing_in_span,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_rows
FROM events
GROUP BY ROLLUP(event_type)
"""


# --- Benford first-digit audit ----------------------------------------------

#: round(log10(1 + 1/d) * 10000) for d = 1..9 — sums to exactly 10000.
BENFORD_BP = [3010, 1761, 1249, 969, 792, 669, 580, 512, 458]


def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the observed first-digit
    share of o_totalprice against the Benford expectation — the
    fraud/synthetic-data smell test for any financial measure column.
    Expected shares are interpolated into BOTH engines from the same
    Python constant (BENFORD_BP), per the shared-constant house rule.

    Scale shape: one digit-extraction map + one 9-group aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    # Benford applies to MAGNITUDES: the first significant digit of
    # |x|. The first form took substr(floor(x)) directly — on a
    # negative price (a credited order) the leading char is '-' and the
    # ANSI int cast CRASHES (caught by the --negatives sweep); and a
    # |x| < 1 magnitude yields digit 0, which has no Benford
    # expectation (and would crash element_at's 1-based index) —
    # excluded in BOTH engines alongside NULLs.
    digit = F.substring(
        F.floor(F.abs(F.col("o_totalprice"))).cast("string"), 1, 1
    ).cast("int")
    exp = F.element_at(F.array(*[F.lit(v) for v in BENFORD_BP]), F.col("digit"))
    counted = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull() & (F.col("digit") >= 1))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counted.agg(F.sum("n").alias("t"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n_orders"),
            F.floor(F.col("n") * 10000 / F.col("t")).cast("long").alias("observed_bp"),
            exp.cast("long").alias("expected_bp"),
            F.abs(F.floor(F.col("n") * 10000 / F.col("t")) - exp)
            .cast("long")
            .alias("dev_bp"),
        )
    )


BENFORD_SQL = f"""
WITH exp(digit, expected_bp) AS (
  VALUES {", ".join(f"({d + 1}, {v})" for d, v in enumerate(BENFORD_BP))}
),
counted AS (
  SELECT digit, count(*) AS n
  FROM (
    SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR),
                       1, 1) AS INT) AS digit
    FROM orders WHERE o_totalprice IS NOT NULL
  ) WHERE digit >= 1
  GROUP BY 1
),
tot AS (SELECT sum(n) AS t FROM counted)
SELECT c.digit,
       CAST(c.n AS BIGINT) AS n_orders,
       CAST(c.n * 10000 // t AS BIGINT) AS observed_bp,
       CAST(e.expected_bp AS BIGINT) AS expected_bp,
       CAST(abs(c.n * 10000 // t - e.expected_bp) AS BIGINT) AS dev_bp
FROM counted c JOIN exp e USING (digit), tot
"""


# --- KMV set-intersection estimate ------------------------------------------

KMV_INTER_K = 64


def kmv_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality via KMV sketch algebra: estimate
    |purchasing user-days ∩ erroring user-days| as est(A) + est(B) −
    est(A∪B), each from a k-minimum-values sketch over the md5 wheel,
    next to the exact join answer and the error in basis points — the
    sketch-vs-exact gate pattern (kmv_weekly_merge_gate) extended to set
    ALGEBRA, which is what sketches exist for at 100 TB (the exact join
    is the thing you can no longer afford).

    Scale shape: ONE declarative plan, no driver-side loop. The three
    sketches (A, B, A∪B) ride one tagged union; each tag's k smallest
    hashes come from the two-phase distributed top-k (per-(tag, hash
    bucket) partial top-k, then a final top-k over the 32·k survivors —
    the cosine_topk_batch pattern, so no single task ever sorts a whole
    tag). The exact side is one count-over-groupBy on the bounded
    distinct key set, present only because this IS the gate."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat_ws(
        "#", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
    )
    base = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .select(F.col("event_type").alias("et"), key.alias("k"))
        .distinct()
    )
    a = base.filter(F.col("et") == "purchase").select(F.lit("a").alias("tag"), "k")
    b = base.filter(F.col("et") == "error").select(F.lit("b").alias("tag"), "k")
    u = base.select("k").distinct().select(F.lit("u").alias("tag"), "k")
    tagged = a.unionByName(b).unionByName(u)
    hashed = tagged.select(
        "tag",
        "k",
        ((dedup.md5_int(F.col("k")) + F.lit(0.5)) / F.lit(float(2**32))).alias("h"),
    ).withColumn("_b", F.pmod(F.hash("k"), F.lit(32)))
    w1 = Window.partitionBy("tag", "_b").orderBy("h")
    s1 = (
        hashed.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= KMV_INTER_K)
        .drop("_rn", "_b")
    )
    w2 = Window.partitionBy("tag").orderBy("h")
    topk = s1.withColumn("_rn", F.row_number().over(w2)).filter(
        F.col("_rn") <= KMV_INTER_K
    )
    per_tag = topk.groupBy("tag").agg(
        F.count(F.lit(1)).alias("kn"), F.max("h").alias("hk")
    )
    est = (
        F.when(F.col("kn") < KMV_INTER_K, F.col("kn").cast("double"))
        .otherwise(F.lit(float(KMV_INTER_K - 1)) / F.col("hk"))
        .alias("est")
    )
    # coalesce mirrors the oracle's scalar subqueries, which yield 0.0
    # (count < k branch) for a tag with no rows at all
    ests = per_tag.select("tag", est).agg(
        F.coalesce(F.sum(F.when(F.col("tag") == "a", F.col("est"))), F.lit(0.0)).alias("ea"),
        F.coalesce(F.sum(F.when(F.col("tag") == "b", F.col("est"))), F.lit(0.0)).alias("eb"),
        F.coalesce(F.sum(F.when(F.col("tag") == "u", F.col("est"))), F.lit(0.0)).alias("eu"),
    )
    inter = (
        base.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 2)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return inter.crossJoin(F.broadcast(ests)).select(
        F.col("n_exact").cast("long").alias("n_exact_inter"),
        F.floor((F.col("ea") + F.col("eb") - F.col("eu")) * 100 + F.lit(0.5))
        .cast("long")
        .alias("est_inter_x100"),
    )


KMV_INTER_SQL = f"""
WITH a AS (SELECT DISTINCT user_id::VARCHAR || '#' || strftime(ts::DATE, '%Y-%m-%d') AS k
           FROM events WHERE event_type = 'purchase'),
b AS (SELECT DISTINCT user_id::VARCHAR || '#' || strftime(ts::DATE, '%Y-%m-%d') AS k
      FROM events WHERE event_type = 'error'),
u AS (SELECT k FROM a UNION SELECT k FROM b),
ah AS (SELECT (('0x' || substr(md5(k), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS h
       FROM a ORDER BY 1 LIMIT {KMV_INTER_K}),
bh AS (SELECT (('0x' || substr(md5(k), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS h
       FROM b ORDER BY 1 LIMIT {KMV_INTER_K}),
uh AS (SELECT (('0x' || substr(md5(k), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS h
       FROM u ORDER BY 1 LIMIT {KMV_INTER_K}),
est AS (
  SELECT
    (SELECT CASE WHEN count(*) < {KMV_INTER_K} THEN count(*)::DOUBLE
                 ELSE {KMV_INTER_K - 1}.0 / max(h) END FROM ah) AS ea,
    (SELECT CASE WHEN count(*) < {KMV_INTER_K} THEN count(*)::DOUBLE
                 ELSE {KMV_INTER_K - 1}.0 / max(h) END FROM bh) AS eb,
    (SELECT CASE WHEN count(*) < {KMV_INTER_K} THEN count(*)::DOUBLE
                 ELSE {KMV_INTER_K - 1}.0 / max(h) END FROM uh) AS eu
)
SELECT (SELECT count(*) FROM a JOIN b USING (k))::BIGINT AS n_exact_inter,
       CAST(floor((ea + eb - eu) * 100 + 0.5) AS BIGINT) AS est_inter_x100
FROM est
"""


# --- log2 document-length histogram -----------------------------------------

def doclen_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: documents per (source, ⌊log2 token-count⌋)
    bucket — the standard long-tail length histogram a datacard carries,
    with the bucket floor emitted as a power of two. Integer-exact log2
    via the binary-representation length (no libm), per the house
    no-transcendentals rule.

    Scale shape: tokenize-count map + one (source, bucket) aggregate."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counted = docs.select(
        "source",
        F.size(F.filter(dedup.tokens("text"), lambda t: t != "")).alias("n_tok"),
    ).filter(F.col("n_tok") >= 1)
    with_bucket = counted.select(
        "source",
        (F.length(F.conv(F.col("n_tok").cast("string"), 10, 2)) - 1)
        .cast("int")
        .alias("bucket"),
    )
    return (
        with_bucket.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn(
            "bucket_lo",
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)"),
        )
    )


DOCLEN_HIST_SQL = r"""
WITH t AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
           AS n_tok
  FROM documents
),
b AS (
  SELECT source, CAST(length(to_base(n_tok, 2)) - 1 AS INT) AS bucket
  FROM t WHERE n_tok >= 1
)
SELECT source, bucket,
       count(*)::BIGINT AS n_docs,
       CAST(1 << bucket AS BIGINT) AS bucket_lo
FROM b
GROUP BY 1, 2
"""


# --- per-user max drawdown ---------------------------------------------------

def max_drawdown_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown over the signed purchase/error balance
    series (purchases credit, errors debit, ordered by time): the
    largest peak-to-trough drop of the running balance — the risk
    metric shape (running extremum of a running aggregate) that also
    powers inventory-low-water and quota-burn alerts. All arithmetic in
    integer cents.

    Scale shape: two stacked user-partitioned windows (running sum, then
    running max over the materialized balance — window functions can't
    nest, so the passes are sequential) + one per-user aggregate;
    everything shuffles once on user_id and the second window reuses the
    first's sort order."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    signed = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents("value"))
        .otherwise(-cents("value"))
        .alias("delta"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    run = (
        signed.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("bal", F.sum("delta").over(w_run))
        .withColumn("peak", F.max("bal").over(w_run))
    )
    return run.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tx"),
        F.max("bal").cast("long").alias("peak_cents"),
        # arg-max over the row counter, not a struct key: DuckDB's max_by
        # has no struct-ordered overload, so both engines order by rn
        F.max_by("bal", "rn").cast("long").alias("final_cents"),
        F.max(F.col("peak") - F.col("bal")).cast("long").alias("max_drawdown_cents"),
    )


MAX_DRAWDOWN_SQL = f"""
WITH signed AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN {CENTS_SQL.format(x="value")}
              ELSE -{CENTS_SQL.format(x="value")} END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')
),
bal AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS bal
  FROM signed
),
run AS (
  SELECT user_id, rn, bal,
         max(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bal
)
SELECT user_id,
       count(*)::BIGINT AS n_tx,
       CAST(max(bal) AS BIGINT) AS peak_cents,
       CAST(max_by(bal, rn) AS BIGINT) AS final_cents,
       CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents
FROM run
GROUP BY user_id
"""


# --- deterministic fixed-k sample per stratum --------------------------------

SAMPLE_K = 25


def sample_fixed_k_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample per stratum: exactly k events per
    event type, chosen as the k smallest md5 hashes — the distributed
    stand-in for reservoir sampling (same fixed-k guarantee, but stable
    under reordering and re-runs, and mergeable across partitions: the
    k smallest of a union is computable from each side's k smallest).
    Emitted as per-stratum membership aggregates so the gate pins the
    exact chosen set, not just its size.

    Scale shape: one type-partitioned window rank over the hash (top-k
    per group — sort-based, spillable), then a 5-row aggregate. The rank
    key is the FULL-RESOLUTION md5 integer, not the 10k-bucket wheel: a
    bucketed key would degenerate at scale into "the smallest event_ids
    inside bucket 0" — earliest-ingested bias, not a uniform sample."""
    ev = load_table(spark, sf_dir, "events")
    h = dedup.md5_int(F.concat(F.col("event_id").cast("string"), F.lit("fixk")))
    w = Window.partitionBy("event_type").orderBy(h.asc(), F.col("event_id").asc())
    picked = ev.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= SAMPLE_K
    )
    return picked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k_actual"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


SAMPLE_FIXED_K_SQL = f"""
WITH ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY ('0x' || substr(md5(event_id::VARCHAR || 'fixk'), 1, 8))::BIGINT
                    ASC,
                    event_id ASC) AS rn
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS k_actual,
       CAST(sum(event_id) AS BIGINT) AS sum_ids,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM ranked WHERE rn <= {SAMPLE_K}
GROUP BY 1
"""


# --- order backlog timeline --------------------------------------------------

def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog timeline: each order opens at o_orderdate and
    closes when its last lineitem ships; the daily backlog is the
    running difference of opened-vs-closed counts — the interval-
    stabbing ("how many in flight on day X") query behind every ops
    dashboard, computed by event-izing the intervals instead of joining
    each day against every order.

    Scale shape: one per-order max (shuffle on orderkey), one daily
    delta aggregate, then a running sum over the DATE DOMAIN (calendar-
    bounded single partition, like order_cycle_time's percentile step —
    ~2.5k rows regardless of data size)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_date"))
    opened = orders.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("op"), F.lit(0).alias("cl")
    )
    closed = closes.select(
        F.to_date("close_date").alias("day"), F.lit(0).alias("op"), F.lit(1).alias("cl")
    )
    daily = (
        opened.unionByName(closed)
        .groupBy("day")
        .agg(F.sum("op").alias("n_opened"), F.sum("cl").alias("n_closed"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long").alias("backlog"),
    )


ORDER_BACKLOG_SQL = """
WITH closes AS (
  SELECT l_orderkey, max(l_shipdate) AS close_date FROM lineitem GROUP BY 1
),
deltas AS (
  SELECT o_orderdate::DATE AS day, 1 AS op, 0 AS cl FROM orders
  UNION ALL
  SELECT close_date::DATE AS day, 0 AS op, 1 AS cl FROM closes
),
daily AS (
  SELECT day, sum(op) AS n_opened, sum(cl) AS n_closed FROM deltas GROUP BY 1
)
SELECT day,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(sum(n_opened - n_closed) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM daily
"""


# --- kNN label-vote eval -----------------------------------------------------

KNN_EVAL_K = 64  # fixed eval-set size at ANY corpus scale
KNN_K = 5


def emb_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier evaluation on the embedding corpus: for a
    FIXED-SIZE md5-chosen eval set (the 64 smallest key hashes — a
    deterministic sample whose cost does NOT grow with the corpus,
    unlike a fraction), take each vector's top-5 cosine neighbors (self
    excluded), majority-vote their labels (ties to the smallest label),
    and report per-true-label accuracy — the label-quality /
    embedding-quality probe run before trusting either for curation
    (complements emb_centroid_classifier_eval: kNN is local, centroids
    are global).

    Scale shape: the eval batch is a distributed sort-limit (TakeOrdered
    top-k, never a single-partition sort) and is broadcast; neighbor
    search is ONE corpus scan via vector.cosine_topk_batch (bucketed
    partial top-k, no corpus self-join); votes and accuracy are
    batch-sized aggregates."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = (
        emb.withColumn(
            "_h", dedup.md5_int(F.concat(F.col("vec_id").cast("string"), F.lit("knn")))
        )
        .sort("_h", "vec_id")
        .limit(KNN_EVAL_K)
        .drop("_h")
    )
    top = vector.cosine_topk_batch(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k=KNN_K
    )
    labels = emb.select(F.col("vec_id").alias("_nid"), F.col("label").alias("_nlabel"))
    votes = (
        top.join(labels, top.vec_id == labels._nid)
        .groupBy("qid", "_nlabel")
        .agg(F.count(F.lit(1)).alias("_votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_votes"), F.asc("_nlabel"))
    pred = votes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    truth = queries.select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label"))
    scored = pred.join(truth, "qid").select(
        "true_label", (F.col("_nlabel") == F.col("true_label")).alias("_ok")
    )
    return scored.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.when(F.col("_ok"), 1).otherwise(0)).cast("long").alias("n_correct"),
        F.floor(
            F.sum(F.when(F.col("_ok"), 1).otherwise(0)) * 10000 / F.count(F.lit(1))
        )
        .cast("long")
        .alias("acc_bp"),
    )


_COS = """
list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
 / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
  * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
"""

KNN_EVAL_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS true_label
  FROM embeddings
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || 'knn'), 1, 8))::BIGINT, vec_id
  LIMIT {KNN_EVAL_K}
),
scored AS (
  SELECT q.qid, q.true_label, e.vec_id, e.label AS nlabel,
         {_COS.format(a="e.embedding", b="q.qv")} AS cos
  FROM embeddings e, q
  WHERE e.vec_id != q.qid
),
top AS (
  SELECT qid, true_label, nlabel,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored
),
votes AS (
  SELECT qid, true_label, nlabel, count(*) AS v
  FROM top WHERE rn <= {KNN_K}
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT qid, true_label, nlabel,
         row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel ASC) AS pr
  FROM votes
)
SELECT true_label,
       count(*)::BIGINT AS n_eval,
       CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS acc_bp
FROM pred WHERE pr = 1
GROUP BY 1
"""


# --- zone-map skip audit -----------------------------------------------------

#: value_cents thresholds audited for partition skipping
ZONEMAP_THRESHOLDS = [5000, 10000, 20000, 30000]


def zonemap_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit: build the per-day zone map
    (min/max of value-cents per daily partition of events) and report,
    for each audited predicate `value_cents >= T`, how many daily
    partitions a reader could skip outright (zone max < T) — the
    file-pruning payoff estimate that decides whether a layout/partition
    scheme earns its keep (layout_zorder_locality's cousin for min/max
    stats).

    Scale shape: one per-day min/max aggregate (the zone map is
    partition-count-sized), cross-joined against the config-literal
    threshold list; everything downstream is metadata-sized."""
    ev = load_table(spark, sf_dir, "events")
    zones = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.max(cents("value")).alias("zmax")
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in ZONEMAP_THRESHOLDS])
    ).alias("threshold")
    audited = zones.select("day", "zmax", thresholds)
    return (
        audited.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum(F.when(F.col("zmax") < F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_skippable"),
        )
        .select(
            F.col("threshold").cast("long").alias("threshold_cents"),
            "n_partitions",
            "n_skippable",
            F.floor(F.col("n_skippable") * 10000 / F.col("n_partitions"))
            .cast("long")
            .alias("skip_bp"),
        )
    )


ZONEMAP_SQL = f"""
WITH zones AS (
  SELECT ts::DATE AS day, max({CENTS_SQL.format(x="value")}) AS zmax
  FROM events GROUP BY 1
),
th(threshold) AS (VALUES {", ".join(f"({t})" for t in ZONEMAP_THRESHOLDS)})
SELECT CAST(threshold AS BIGINT) AS threshold_cents,
       count(*)::BIGINT AS n_partitions,
       CAST(sum(CASE WHEN zmax < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
       CAST(sum(CASE WHEN zmax < threshold THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS skip_bp
FROM zones, th
GROUP BY threshold
"""

# --- interval-overlap join ----------------------------------------------------

OVERLAP_GAP_S = 1800  # session gap, shared by both engines


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval proximity join: per user, sessionize purchase
    activity and error activity independently (30-min gap), then join
    the two INTERVAL SETS on proximity — a (purchase session, error
    session) pair qualifies when the intervals come within the session
    gap of each other; distance 0 means they genuinely intersect. "Did
    errors coincide with purchase activity?" as interval algebra — the
    missing sibling of the point-in-interval range join
    (range_join_error_purchases): both sides are intervals and the
    predicate is the banded start_a <= end_b + gap AND start_b <= end_a
    + gap. (Strict intersection alone would be degenerate here: sparse
    per-user activity makes most sessions single-event POINT intervals,
    which never strictly intersect — the tolerance IS the semantics.)
    All arithmetic in exact integer microseconds.

    Scale shape: sessionization is the audited single-shuffle operator
    (operators/sessionize.py); the proximity join is an EQUI-join on
    user_id with the banded interval predicate as a residual filter —
    per-user interval counts are bounded (sessions per user), so no
    block ever goes quadratic in the corpus."""
    from ..operators.sessionize import session_stats

    gap_us = OVERLAP_GAP_S * 1_000_000
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    iv = session_stats(
        ev, "ts", by=["user_id", "event_type"], gap_seconds=OVERLAP_GAP_S,
        tiebreak=["event_id"],
    ).select(
        "user_id",
        "event_type",
        F.unix_micros("session_start").alias("s"),
        F.unix_micros("session_end").alias("e"),
    )
    p = iv.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("ps"), F.col("e").alias("pe")
    )
    er = iv.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("_uid"), F.col("s").alias("es"), F.col("e").alias("ee")
    )
    dist = F.greatest(
        F.lit(0).cast("long"),
        F.greatest(F.col("ps"), F.col("es")) - F.least(F.col("pe"), F.col("ee")),
    )
    ov = p.join(
        er,
        (p.user_id == er._uid)
        & (F.col("ps") <= F.col("ee") + F.lit(gap_us))
        & (F.col("es") <= F.col("pe") + F.lit(gap_us)),
    ).select("user_id", dist.alias("dist_us"))
    return ov.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist_us") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_intersecting"),
        F.min("dist_us").cast("long").alias("min_dist_us"),
        F.sum("dist_us").cast("long").alias("sum_dist_us"),
    )


INTERVAL_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
  FROM events WHERE event_type IN ('purchase', 'error')
),
flags AS (
  SELECT user_id, event_type, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > {OVERLAP_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tus, event_id)
),
sess AS (
  -- event_id tiebreak matches the flags window AND the Spark side
  -- (session_stats tiebreak=["event_id"]): without it the ROWS-framed
  -- running sum is nondeterministic on timestamp ties
  SELECT user_id, event_type, tus,
         sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY tus, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags
),
iv AS (
  SELECT user_id, event_type, sid, min(tus) AS s, max(tus) AS e
  FROM sess GROUP BY 1, 2, 3
),
p AS (SELECT user_id, s AS ps, e AS pe FROM iv WHERE event_type = 'purchase'),
er AS (SELECT user_id, s AS es, e AS ee FROM iv WHERE event_type = 'error'),
ov AS (
  SELECT p.user_id,
         greatest(0, greatest(ps, es) - least(pe, ee)) AS dist_us
  FROM p JOIN er ON p.user_id = er.user_id
   AND ps <= ee + {OVERLAP_GAP_S * 1_000_000}
   AND es <= pe + {OVERLAP_GAP_S * 1_000_000}
)
SELECT user_id,
       count(*)::BIGINT AS n_pairs,
       CAST(sum(CASE WHEN dist_us = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersecting,
       CAST(min(dist_us) AS BIGINT) AS min_dist_us,
       CAST(sum(dist_us) AS BIGINT) AS sum_dist_us
FROM ov GROUP BY 1
"""


# --- per-group closed-form OLS trend ------------------------------------------

def ols_daily_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of the daily event count: closed-form
    OLS over (epoch-day, count) — slope in parts-per-million events/day
    plus the fit's r² in basis points. The per-key regression every
    monitoring system runs to answer "is this stream growing?" without a
    window scan (seasonal_trend_decompose smooths; this fits).

    Exactness: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    exact integers; slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) and
    r² = num² / (den·(nΣy² − (Σy)²)) are each ONE double division over
    identically-converted integers, floored on both engines — no float
    accumulation anywhere.

    Scale shape: one (type, day) aggregate, then a 5-accumulator
    aggregate per type — the sufficient-statistics pattern means the
    regression itself never sees row-level data."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate-input guard (mirrors twap_daily_value's pattern): den=0
    # (a type seen on one distinct day) or syy_c=0 (zero count variance)
    # must yield NULL on BOTH engines — unguarded, Spark non-ANSI x/0
    # gives NULL while DuckDB IEEE division gives ±inf and CAST(floor(inf)
    # AS BIGINT) aborts the whole oracle query. Unreachable at registered
    # SFs, guarded anyway.
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("n_events"),
        F.when(
            den > 0,
            F.floor(F.lit(1000000.0) * num.cast("double") / den.cast("double")),
        )
        .cast("long")
        .alias("slope_ppm"),
        F.when(
            (den > 0) & (syy_c > 0),
            F.floor(
                F.lit(10000.0)
                * num.cast("double")
                * num.cast("double")
                / (den.cast("double") * syy_c.cast("double"))
            ),
        )
        .cast("long")
        .alias("r2_bp"),
    )


OLS_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         (ts::DATE - DATE '1970-01-01') AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM daily GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(sy AS BIGINT) AS n_events,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT) AS slope_ppm,
       CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         floor(10000.0
               * CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE))) END AS BIGINT) AS r2_bp
FROM stats
"""


# --- largest-remainder quota allocation ---------------------------------------

QUOTA_SLOTS = 1000


def quota_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer quota allocation across sources by document count using
    the largest-remainder (Hamilton) method: floor shares first, then the
    leftover slots go to the largest fractional remainders — quotas sum
    to EXACTLY the budget, the property proportional-rounding loses and
    every sampling/packing planner needs (mixture_epoch_plan consumes
    such quotas; this produces them).

    Exactness: shares = slots·count; floor = shares div total; remainder
    = shares mod total — all non-negative integers (div/mod agree across
    engines on non-negatives); the tie order (remainder DESC, source ASC)
    is total.

    Scale shape: one count aggregate, one 1-row total broadcast, one
    |sources|-row window — everything after the scan is config-sized.
    Core in sampling.hamilton_quota (property-tested against a Python
    reference model)."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    return sampling.hamilton_quota(counted, "source", "cnt", QUOTA_SLOTS).select(
        "source",
        F.col("cnt").cast("long").alias("n_docs"),
        "quota",
        "remainder",
    )


QUOTA_SQL = f"""
WITH counted AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
tot AS (SELECT sum(cnt) AS t FROM counted),
shares AS (
  SELECT source, cnt,
         (cnt * {QUOTA_SLOTS}) // t AS fl,
         (cnt * {QUOTA_SLOTS}) % t AS rem
  FROM counted, tot
),
ranked AS (
  SELECT source, cnt, fl, rem,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
         {QUOTA_SLOTS} - sum(fl) OVER () AS lo
  FROM shares
)
SELECT source,
       CAST(cnt AS BIGINT) AS n_docs,
       CAST(fl + CASE WHEN rk <= lo THEN 1 ELSE 0 END AS BIGINT) AS quota,
       CAST(rem AS BIGINT) AS remainder
FROM ranked
"""


# --- RFM segmentation ---------------------------------------------------------

RFM_BUCKETS = 4


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile-code each ordering customer on
    Recency (latest order date), Frequency (order count) and Monetary
    (total cents), then report the segment grid (code = R·100+F·10+M,
    4=best) with sizes and value — the classic multi-dimension quantile
    coding behind every CRM/value dashboard (quality_tier_inventory is
    the single-measure cousin).

    Quartile code = floor((i−1)·4/n)+1 over the dense rank i of
    (metric, custkey) — a row_number-based formula interpolated into
    BOTH engines (deliberately NOT ntile: remainder distribution is
    engine-defined there, and a global ntile would single-partition the
    sort anyway). Ascending metric order, so 4 = most recent / most
    frequent / highest spend.

    Scale shape: one per-customer aggregate, then THREE range-partitioned
    dense ranks (layout.dense_ids_by — O(partitions) driver state, no
    single-partition window), one 1-row count broadcast, and a ≤64-group
    aggregate."""
    from ..operators import layout

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("o_totalprice")).alias("cents"),
    )
    ranked = layout.dense_ids_by(per_cust, [F.asc("last_day"), F.asc("o_custkey")], id_name="ri")
    ranked = layout.dense_ids_by(ranked, [F.asc("freq"), F.asc("o_custkey")], id_name="fi")
    ranked = layout.dense_ids_by(ranked, [F.asc("cents"), F.asc("o_custkey")], id_name="mi")
    tot = ranked.agg(F.count(F.lit(1)).alias("n"))

    def code(i: str) -> Column:
        return (F.floor((F.col(i) - 1) * RFM_BUCKETS / F.col("n")) + 1).cast("int")

    coded = ranked.crossJoin(F.broadcast(tot)).select(
        "cents",
        (code("ri") * 100 + code("fi") * 10 + code("mi")).alias("segment"),
    )
    return coded.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate::DATE) AS last_day,
         count(*) AS freq,
         sum({CENTS_SQL.format(x="o_totalprice")}) AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY last_day ASC, o_custkey ASC) AS ri,
         row_number() OVER (ORDER BY freq ASC, o_custkey ASC) AS fi,
         row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS mi
  FROM per_cust
),
tot AS (SELECT count(*) AS n FROM ranked)
SELECT CAST((floor((ri - 1) * {RFM_BUCKETS} / n) + 1) * 100
       + (floor((fi - 1) * {RFM_BUCKETS} / n) + 1) * 10
       + (floor((mi - 1) * {RFM_BUCKETS} / n) + 1) AS INTEGER) AS segment,
       count(*)::BIGINT AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM ranked, tot
GROUP BY 1
"""
