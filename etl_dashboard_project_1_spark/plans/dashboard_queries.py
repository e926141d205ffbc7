"""Dashboard aggregation layer breadth (SURVEY.md §2.9-§2.11 + §7 module 9):
cube / rollup / grouping sets, pivot, exact percentiles, distinct
aggregates, lag/lead and running windows, and two more TPC-H-shaped
reports. All are free Catalyst machinery — the point of the Spark-first
design is that the reference's dashboard needs cost zero custom code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import derive
from ..session import load_table


def agg_cube_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, status): every subtotal combination + grand total."""
    orders = load_table(spark, sf_dir, "orders").withColumn("anio", F.year("o_orderdate").cast("long"))
    return (
        orders.cube("anio", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


AGG_CUBE_SQL = """
SELECT year(o_orderdate) AS anio, o_orderstatus,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
"""


def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP down the region → nation hierarchy (dimension joins are
    broadcast; the rollup itself is one partial/final aggregation)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


AGG_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame expand operator)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n, round(sum(l_quantity), 2) AS qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never the implicit distinct scan
    — that is an extra job and unstable columns at scale)."""
    orders = load_table(spark, sf_dir, "orders").withColumn("anio", F.year("o_orderdate").cast("long"))
    return (
        orders.groupBy("anio")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )


PIVOT_SQL = """
SELECT year(o_orderdate) AS anio,
       count(*) FILTER (o_orderstatus = 'O') AS "O",
       count(*) FILTER (o_orderstatus = 'F') AS "F",
       count(*) FILTER (o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY 1
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`, bit-identical). For 100 TB use
    `percentile_approx` — kept exact here because the gate hashes values."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


AGG_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (exact). The approximate variant
    (approx_count_distinct / HLL) is the 100 TB default but engine-specific,
    so the gate pins the exact one."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


AGG_DISTINCT_SQL = """
SELECT l_linestatus,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey)  AS n_parts,
       count(*)                   AS n_rows
FROM lineitem
GROUP BY l_linestatus
"""


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() per user in event-time order: per-event value delta."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
    )


WINDOW_LAG_SQL = """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
         AS value_delta
FROM events
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user total — partitioned frame, never a global order."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


WINDOW_RUNNING_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value
FROM events
"""


def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via rank window (deterministic tie-break on key)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "rn", "p_partkey", F.round("p_retailprice", 2).alias("price"))
    )


TOPK_PARTS_SQL = """
SELECT p_brand, rn, p_partkey, round(p_retailprice, 2) AS price
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
)
WHERE rn <= 3
"""


#: Revenue ``l_extendedprice * (1 - l_discount)`` in exact e4 units: both
#: factors are 2-decimal, so the product of their cents forms is an integer.
#: Summed as DECIMAL and rounded half-up to cents once, as q1 does, every
#: engine gets the same cents; a double sum can land on a half cent and
#: round differently in Spark and DuckDB (seeds 102, 207, 210).
_REVENUE_E4 = (
    f"{derive.CENTS_SQL.format(x='l_extendedprice')}"
    f" * (100 - {derive.CENTS_SQL.format(x='l_discount')})"
)
_REVENUE_SUM_E4 = f"sum(CAST({_REVENUE_E4} AS DECIMAL(28,0)))"
#: e4 sum → cents, half-up (non-negative by TPC-H domain), as a double
_REVENUE_CENTS = (
    "CAST(CAST(floor((_rev_e4 + 50) / 100) AS DECIMAL(38,0)) AS DOUBLE) / 100"
)
#: DuckDB spelling of the two steps above
_REVENUE_SQL = f"CAST((sum(CAST({_REVENUE_E4} AS HUGEINT)) + 50) // 100 AS DOUBLE) / 100"


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top 20 customers.
    Revenue is an exact cents sum (``_REVENUE_E4``)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(_REVENUE_SUM_E4).alias("_rev_e4"))
        .select("c_custkey", "c_name", "n_name", F.expr(_REVENUE_CENTS).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {_REVENUE_SQL} AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation → customer-nation trade volume by
    year for a nation pair (both directions). Revenue is an exact cents
    sum (``_REVENUE_E4``)."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.expr(_REVENUE_SUM_E4).alias("_rev_e4"))
        .select("supp_nation", "cust_nation", "l_year", F.expr(_REVENUE_CENTS).alias("revenue"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {_REVENUE_SQL} AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers holding at least one order over
    300k, counted per market segment. The semi join keeps only the probe
    side's columns and short-circuits on first match — strictly cheaper
    than join+distinct at any scale (no fan-out, no dedup shuffle)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    hits = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
    return hits.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


SEMI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY c_mktsegment
"""


def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no order since
    2000-01-01, per market segment with average balance. Same plan family
    as the semi join — one shuffle on the key, no fan-out."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    dormant = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    # exact-integer average (Σcents / n, one float division) — same
    # boundary-proofing as stream_sliding_avg: a float-summed avg of
    # 2-decimal balances can land exactly on a half-cent boundary where
    # engine accumulation order decides the rounding
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents).alias("_sc"),
            F.count("c_acctbal").alias("_nv"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.when(
                F.col("_nv") > 0,
                F.floor(F.col("_sc") / F.col("_nv") + 0.5) / 100,
            ).alias("avg_acctbal"),
        )
    )


ANTI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
       CASE WHEN count(c_acctbal) > 0
            THEN floor(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                       / count(c_acctbal) + 0.5) / 100
       END AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the lineitem measure family via native unpivot
    (compiles to Expand — each input row fans out JVM-side, no shuffle
    until the aggregate). The long layout is what the reference's D9
    family-mean would consume as a relation instead of an expression."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        derive.portable_round(F.sum("value"), 2).alias("sum_value"),
    )


UNPIVOT_SQL = """
SELECT l_returnflag, measure, count(*) AS n,
       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
GROUP BY l_returnflag, measure
"""


def ntile_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) account-balance deciles per market segment — partitioned
    window (one shuffle on the segment), decile boundaries summarized."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    dec = cust.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return dec.groupBy("c_mktsegment", "decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        derive.portable_round(F.min("c_acctbal"), 2).alias("lo"),
        derive.portable_round(F.max("c_acctbal"), 2).alias("hi"),
    )


NTILE_SQL = """
SELECT c_mktsegment, decile, count(*) AS n_customers,
       floor(min(c_acctbal) * 100 + 0.5) / 100 AS lo,
       floor(max(c_acctbal) * 100 + 0.5) / 100 AS hi
FROM (SELECT c_mktsegment, c_acctbal,
             ntile(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
GROUP BY c_mktsegment, decile
"""


def set_ops_retained_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over yearly active-customer sets: retained =
    active both years, churned = active 1995 only. Both compile to the
    same aggregate-style plan as a distinct join — one shuffle per input."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    retained = y95.intersect(y96).withColumn("cohort", F.lit("retained"))
    churned = y95.subtract(y96).withColumn("cohort", F.lit("churned"))
    return retained.unionByName(churned).groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


SET_OPS_SQL = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'retained' AS cohort, count(*) AS n_customers
FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT 'churned', count(*)
FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
"""


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share per ship-year: conditional aggregate over a
    broadcast part-dimension join — the CASE rides inside the partial
    aggregate, so only (year, 2 sums) cross the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        j.groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            derive.portable_round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                * 100.0
                / F.sum(rev),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


Q14_SQL = """
SELECT year(l_shipdate) AS ship_year,
       floor(sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             * 100.0 / sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
         AS promo_share_pct,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority counts for orders having at least one line shipped
    > 60 days after the order date — EXISTS as a left-semi join with the
    date predicate evaluated pre-shuffle on the build side."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")).select(
        F.col("l_orderkey").alias("late_key")
    )
    hit = orders.join(late, orders.o_orderkey == F.col("late_key"), "left_semi")
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q12_latency_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape on the available columns (the synthetic lineitem
    has no shipmode/commitdate, so the grouping key is the ship-latency
    bucket instead of l_shipmode): per bucket of days from order to
    ship (0-30 / 31-60 / 61+), how many lines belong to high-priority
    orders (1-URGENT / 2-HIGH) vs low — the same join + dual
    conditional-sum aggregation Q12 exercises.

    Scale shape: one equi-join lineitem⋈orders on the order key (both
    sides big — shuffle join is correct), bucket derivation is map-side,
    and the aggregate is 3 groups with partial aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lat <= 30, F.lit("0-30"))
        .when(lat <= 60, F.lit("31-60"))
        .otherwise(F.lit("61+"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(bucket.alias("ship_bucket"), high.alias("_h"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.col("_h").cast("long")).alias("high_line_count"),
            F.sum((~F.col("_h")).cast("long")).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30'
            WHEN datediff('day', o_orderdate, l_shipdate) <= 60 THEN '31-60'
            ELSE '61+' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (TPC-H q17): lineitems below 20%
    of their part's average quantity. Decorrelated the way Catalyst wants
    it — aggregate once per part, shuffle-join back on the key (both
    sides hash-partition on l_partkey; at scale AQE handles skewed
    parts). Never a per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    small = li.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_lines"),
        derive.portable_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
    )


Q17_SQL = """
SELECT count(*) AS n_lines,
       floor(sum(l_extendedprice) / 7.0 * 100 + 0.5) / 100 AS avg_yearly
FROM lineitem l
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem i WHERE i.l_partkey = l.l_partkey)
"""


def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (12 × 50k buckets, clamped):
    pure expression arithmetic → one partial/final aggregate. The
    streaming-friendly histogram shape — no sort, no per-bucket scan."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 50000.0), F.lit(0)), F.lit(11)
    ).cast("long")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        derive.portable_round(F.min("o_totalprice"), 2).alias("lo"),
        derive.portable_round(F.max("o_totalprice"), 2).alias("hi"),
    )


HISTOGRAM_SQL = """
SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 11) AS BIGINT) AS bucket,
       count(*) AS n_orders,
       floor(min(o_totalprice) * 100 + 0.5) / 100 AS lo,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS hi
FROM orders
GROUP BY 1
"""


def agg_ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set-collect per group: distinct order priorities per market
    segment as one sorted CSV string. collect_set is partial-aggregate
    friendly (set union map-side); the sort happens on the final tiny set,
    making the output deterministic regardless of partition order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return j.groupBy("c_mktsegment").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDERED_COLLECT_SQL = """
SELECT c_mktsegment,
       array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven data-quality audit over lineitem: N declarative rules
    evaluated as conditional sums in ONE scan+aggregate (operators/quality.py
    — the row-level generalization of the reference's catalog audit CSV)."""
    from ..operators import quality

    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("nonpositive_quantity", F.col("l_quantity") <= 0),
        ("discount_above_policy", F.col("l_discount") > 0.08),
        ("tax_above_policy", F.col("l_tax") > 0.06),
        ("nonpositive_price", F.col("l_extendedprice") <= 0),
        ("null_ship_date", F.col("l_shipdate").isNull()),
    ]
    out = quality.check_rules(li, rules)
    return out.select(
        "rule", "violations", "total_rows",
        derive.portable_round(F.col("violation_rate"), 6).alias("violation_rate"),
    )


DQ_RULES_SQL = """
WITH agg AS (
  SELECT count(*)::BIGINT AS total_rows,
         sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_quantity,
         sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)::BIGINT AS discount_above_policy,
         sum(CASE WHEN l_tax > 0.06 THEN 1 ELSE 0 END)::BIGINT AS tax_above_policy,
         sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_price,
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_ship_date
  FROM lineitem
)
SELECT t.rule, t.violations, agg.total_rows,
       floor((t.violations / agg.total_rows) * 1000000 + 0.5) / 1000000 AS violation_rate
FROM agg, LATERAL (VALUES
  ('nonpositive_quantity', nonpositive_quantity),
  ('discount_above_policy', discount_above_policy),
  ('tax_above_policy', tax_above_policy),
  ('nonpositive_price', nonpositive_price),
  ('null_ship_date', null_ship_date)
) t(rule, violations)
"""


def dq_orphan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity probe: orders whose customer key has no
    dimension row (left anti join, key-only shuffle)."""
    from ..operators import quality

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return quality.orphan_count(orders, "o_custkey", cust, "c_custkey")


DQ_ORPHANS_SQL = """
SELECT count(*)::BIGINT AS orphans
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per cell (count + revenue per
    status): one Expand+aggregate pass, explicit value list as always."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "anio", F.year("o_orderdate").cast("long")
    )
    piv = (
        orders.groupBy("anio")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    return piv.na.fill(0, [c for c in piv.columns if c.endswith("_n")])


PIVOT_MULTI_SQL = """
SELECT year(o_orderdate) AS anio,
       count(*)    FILTER (o_orderstatus = 'O')            AS "O_n",
       round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS "O_total",
       count(*)    FILTER (o_orderstatus = 'F')            AS "F_n",
       round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS "F_total",
       count(*)    FILTER (o_orderstatus = 'P')            AS "P_n",
       round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS "P_total"
FROM orders
GROUP BY 1
"""


def quantile_normalize_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based normalization: percent_rank + cume_dist of each
    customer's balance WITHIN its nation — the distribution-free feature
    transform. One partitioned sort feeds both rank functions."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            # floor-form half-up: percent_rank/cume_dist are exact small-n
            # rationals that hit 1e-6 half boundaries (e.g. 41/640), where
            # Spark HALF_UP and DuckDB half-even disagree (seen at sf0.1)
            (F.floor(F.percent_rank().over(w) * 1000000 + 0.5) / 1000000).alias("pct_rank"),
            (F.floor(F.cume_dist().over(w) * 1000000 + 0.5) / 1000000).alias("cume"),
        )
    )


QUANTILE_NORM_SQL = """
SELECT c_custkey, n_name, round(c_acctbal, 2) AS c_acctbal,
       floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
       floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
"""


def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution analysis: each nation's revenue as a
    share of its region and each region's share of the grand total — the
    drill-down ratio every dashboard shows next to a rollup.

    Exactness: revenue aggregates as exact integer cents; both shares
    are single divisions of those integers (engine-identical), computed
    by windows over the |nations|-sized aggregate — the corpus shuffles
    once for the base groupBy, everything after runs on the tiny result."""
    li = load_table(spark, sf_dir, "lineitem")
    ord_ = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    base = (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .join(cust, ord_.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(cents).alias("_rc"))
    )
    w_reg = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return base.select(
        "r_name",
        "n_name",
        derive.portable_round(F.col("_rc") / 100.0, 2).alias("revenue"),
        derive.portable_round(
            F.col("_rc") / F.sum("_rc").over(w_reg), 6
        ).alias("share_of_region"),
        derive.portable_round(
            F.sum("_rc").over(w_reg) / F.sum("_rc").over(w_all), 6
        ).alias("region_share_of_total"),
    )


REVENUE_SHARE_SQL = """
WITH base AS (
  SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS rc
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
       floor(rc / 100.0 * 100 + 0.5) / 100 AS revenue,
       floor(rc / sum(rc) OVER (PARTITION BY r_name) * 1000000 + 0.5) / 1000000
         AS share_of_region,
       floor(sum(rc) OVER (PARTITION BY r_name)
             / sum(rc) OVER () * 1000000 + 0.5) / 1000000
         AS region_share_of_total
FROM base
"""


#: the star schema's full FK edge list: (edge, child, fk, parent, pk)
RI_EDGES = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def ri_audit_all_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full referential-integrity sweep: every FK edge of the star
    schema audited in one report — child row count, distinct FK values,
    and orphan rows (left anti join on the key). The whole-schema form
    of `dq_orphan_orders`: the pre-flight a warehouse load gate runs.

    Each edge is one anti-join keyed shuffle on its own tables; the six
    1-row summaries union into the report."""
    parts = []
    for edge, child, fk, parent, pk in RI_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("_pk"))
        orphans = c.join(p, F.col(fk) == F.col("_pk"), "left_anti")
        parts.append(
            c.agg(
                F.lit(edge).alias("edge"),
                F.count(F.lit(1)).alias("n_child_rows"),
                F.countDistinct(fk).alias("n_fk_values"),
            ).crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


RI_AUDIT_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{edge}' AS edge, CAST(count(*) AS BIGINT) AS n_child_rows,
       CAST(count(DISTINCT {fk}) AS BIGINT) AS n_fk_values,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
         AS n_orphans
FROM {child}"""
    for edge, child, fk, parent, pk in RI_EDGES
)
