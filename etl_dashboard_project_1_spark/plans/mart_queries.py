"""Deep analytics mart: the remaining TPC-H-shaped report queries
(SURVEY.md §2.9-§2.11 breadth), adapted to the narrow testdata schema
(no partsupp / l_commitdate / l_receiptdate / l_shipmode / c_phone —
each adaptation is noted on the query).

All are pure Catalyst plans: broadcast dimension joins, two-phase
aggregation, semi/anti joins, and scalar-subquery thresholds expressed
as a broadcast of a 1-row aggregate (the scale-correct form — a
single-partition window would serialize the whole table through one
task). Paired DuckDB oracles sit next to each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import derive
from ..operators.derive import CENTS_SQL, cents
from ..session import load_table


def _dims(spark: SparkSession, sf_dir: str):
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation, region


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): for PROMO-type parts sold
    to AMERICA-region customers, the yearly share of revenue supplied by
    NATION_6 suppliers. Adaptation: part filter is on p_type (no
    p_mfgr in the testdata schema).

    Plan shape: fact⋈fact (lineitem⋈orders) shuffles on the key; all
    five dimension joins broadcast; the share is a conditional-sum over
    one aggregation — no second pass.
    """
    nation, region = _dims(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")

    cust_nation = nation.alias("cn")
    supp_nation = nation.alias("sn")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "AMERICA")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .withColumn("volume", rev)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
    )
    return df.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("sn.n_name") == "NATION_6", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_6' THEN volume ELSE 0 END) / sum(volume), 6)
         AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           sn.n_name AS supp_nation
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
) sub
GROUP BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year).
    Adaptation: no partsupp, so unit cost is modeled as
    0.6 * p_retailprice (ps_supplycost in the real schema); the part
    filter matches p_name LIKE '%red%'.
    """
    nation, _ = _dims(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))

    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("amount", amount)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity), 2)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def q11_important_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part shipped value from
    EUROPE-region suppliers, keeping parts above a fraction of the
    grand total. Adaptation: value is lineitem revenue (no partsupp).

    The scalar threshold is a broadcast of a 1-row aggregate — the
    scale-correct version of Q11's scalar subquery (whitelisted in the
    cartesian guard as a config-sized nested loop).
    """
    nation, region = _dims(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")

    base = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"))
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("val").alias("part_value"))
    total = per_part.agg(F.sum("part_value").alias("grand_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("grand_total"))
        .select("l_partkey", F.round("part_value", 2).alias("part_value"))
    )


Q11_SQL = """
WITH base AS (
    SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
),
per_part AS (SELECT l_partkey, sum(val) AS part_value FROM base GROUP BY l_partkey)
SELECT l_partkey, round(part_value, 2) AS part_value
FROM per_part
WHERE part_value > 0.001 * (SELECT sum(part_value) FROM per_part)
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): left join keeps
    zero-order customers, first aggregation counts per customer, second
    histograms the counts. Both aggregations are plain hash aggs; the
    left join shuffles on custkey once.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    supplier(s) hitting the maximum. The max is a broadcast 1-row
    aggregate (Q15's scalar view), compared within-engine so double
    associativity differences can't flip the winner.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


Q15_SQL = """
WITH rev AS (
    SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part profile): distinct
    suppliers per (brand, type, size) bucket, excluding one brand, one
    type, and suppliers with negative balance. Adaptation: the
    supplier-part relation comes from lineitem (no partsupp); the
    excluded-supplier list is TPC-H's complaints subquery re-expressed
    as a broadcast anti-join on s_acctbal < 0.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose line quantities
    sum above a threshold, joined back to orders + customer. The
    having-filter runs on the aggregated (small) side BEFORE the joins,
    so the fact table is reduced first — the shape that matters at
    100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(total_qty, 2) AS total_qty
FROM (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
    brand/size/quantity envelopes evaluated in one pass. Adaptation:
    p_container/shipmode predicates become p_size bands. Catalyst
    extracts the common l_partkey=p_partkey conjunct so this stays an
    equi-join (never a nested loop), with the disjunction as a
    post-join filter.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 25 AND 50)
"""


def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with significant stock of a part
    class): suppliers who shipped > 50 units of 'red' parts during 1997,
    with their nation. Adaptation: the partsupp availqty EXISTS chain
    becomes a shipped-quantity threshold from lineitem; the qualifying
    supplier set semi-joins supplier (reduction before the dim join).
    """
    nation, _ = _dims(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    qualifying = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("red_qty"))
        .filter(F.col("red_qty") > 50)
    )
    return (
        supp.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE EXISTS (
    SELECT 1 FROM (
        SELECT l_suppkey, sum(l_quantity) AS red_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey HAVING sum(l_quantity) > 50
    ) q WHERE q.l_suppkey = s_suppkey
)
"""


def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no recent orders, counted per
    nation. Adaptation: the phone-prefix country filter becomes the
    nation dimension (no c_phone column). Scalar avg = broadcast 1-row
    aggregate; "no recent orders" = anti-join on a date-filtered orders
    scan (filter pushed below the shuffle).
    """
    nation, _ = _dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_positive_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_positive_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


Q22_SQL = """
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY n_name
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part): for parts shipped by
    EUROPE-region suppliers, the supplier(s) achieving the minimum unit
    price. Adaptation: unit cost comes from lineitem
    (min extendedprice/quantity — no partsupp table); the correlated min
    subquery becomes a per-part aggregate joined back on (part, cost) —
    min is order-independent, so the equality survives engines.
    """
    nation, region = _dims(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    euro_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    costs = (
        li.join(F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    best = costs.groupBy("l_partkey").agg(F.min("cost").alias("best_cost"))
    return (
        costs.join(best, "l_partkey")
        .filter(F.col("cost") == F.col("best_cost"))
        .join(F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            # portable_round: price/qty quotients land on half boundaries
            derive.portable_round(F.col("cost"), 4).alias("unit_cost"),
        )
    )


Q2_SQL = """
WITH euro_supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
costs AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
  FROM lineitem
  JOIN euro_supp ON l_suppkey = s_suppkey
  GROUP BY 1, 2
)
SELECT l_partkey, l_suppkey AS s_suppkey, s_name, n_name,
       floor(cost * 10000 + 0.5) / 10000 AS unit_cost
FROM costs
JOIN euro_supp ON l_suppkey = s_suppkey
WHERE cost = (SELECT min(cost) FROM costs c2 WHERE c2.l_partkey = costs.l_partkey)
"""


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): suppliers with
    a LATE line in a multi-supplier order where every OTHER supplier
    delivered on time — the classic EXISTS + NOT-EXISTS pair over the
    same fact table. Adaptation to the narrow schema: no commit/receipt
    dates, so "late" is the q4 convention (shipped > 60 days after the
    order date); no s_name, so suppliers key the output.

    Decorrelated the way Catalyst wants it: ONE lineitem⋈orders scan
    reduced per (order, supplier) with the late flag aggregated — the
    EXISTS and NOT-EXISTS both fall out of one per-order aggregate
    (n_suppliers, n_late_suppliers) joined back, instead of two
    correlated rescans of lineitem. Shuffles: orderkey (reduce),
    orderkey (stats join — same key, co-partitioned), suppkey (final
    count). The top-20 sorts the supplier-count table — dimension-sized
    by construction.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = li.join(orders.select("o_orderkey", "o_orderdate"),
                 li.l_orderkey == F.col("o_orderkey"))
    per_os = lo.groupBy(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).agg(
        F.max(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
            .cast("int")
        ).alias("late")
    )
    order_stats = per_os.groupBy("o").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    waiting = (
        per_os.join(order_stats, "o")
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        waiting.groupBy(F.col("s").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


Q21_SQL = """
WITH ls AS (
  SELECT l_orderkey AS o, l_suppkey AS s,
         max(CASE WHEN l.l_shipdate > ord.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
  GROUP BY 1, 2
),
os AS (SELECT o, count(*) AS n_supp, sum(late) AS n_late FROM ls GROUP BY 1)
SELECT s AS s_suppkey, count(*) AS numwait
FROM ls JOIN os USING (o)
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 20
"""


def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: the top-20
    part-BRAND pairs bought together, ranked by association-rule lift
    ``P(b | a) / P(b)`` with a min-support floor of 5 co-occurring
    orders — the retail "bought-together" analysis, and the basket-join
    counterpart of the token-adjacency collocation miner. (Brand level,
    not part level: raw part co-occurrence thins to nothing as the part
    space grows with SF — brands stay dense at every scale, the same
    reason real basket mining runs on category hierarchies.)

    Scale shape: baskets (distinct order→brand, via the part dim join)
    are materialized once and feed three consumers (pair self-join,
    per-brand order counts, total order count — the latter two DERIVE
    from the basket table, no re-scan). The pair join keys on the
    order — co-partitioned self-join whose per-order fan-out is bounded
    by basket size (≤ lines/order, ~7 here), never |brands|². The sort
    key is a fixed-shape composition of exact-integer divisions
    (bit-identical cross-engine); top-20 via TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("_ok"), F.col("p_brand").alias("_pk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.countDistinct("_ok").cast("double").alias("_n"))
    c1 = baskets.groupBy("_pk").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a._ok") == F.col("b._ok")) & (F.col("a._pk") < F.col("b._pk")))
        .groupBy(F.col("a._pk").alias("brand_a"), F.col("b._pk").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("_c2"))
        .filter(F.col("_c2") >= 5)
    )
    scored = (
        pairs.join(c1.withColumnRenamed("_pk", "brand_a").withColumnRenamed("_c", "_c1a"), "brand_a")
        .join(c1.withColumnRenamed("_pk", "brand_b").withColumnRenamed("_c", "_c1b"), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .withColumn("_lift", (F.col("_c2") / F.col("_c1a")) * (F.col("_n") / F.col("_c1b")))
    )
    return (
        scored.orderBy(F.desc("_lift"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
        .select(
            "brand_a",
            "brand_b",
            F.col("_c2").cast("long").alias("n_orders_together"),
            derive.portable_round(F.col("_lift"), 6).alias("lift"),
        )
    )


BASKET_LIFT_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS pk
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT ok)::DOUBLE AS n_orders FROM baskets),
c1 AS (SELECT pk, count(*)::DOUBLE AS c FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.pk AS brand_a, b.pk AS brand_b, count(*) AS c2
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= 5
),
scored AS (
  SELECT brand_a, brand_b, c2, (c2 / ca.c) * (n_orders / cb.c) AS lift_raw
  FROM pairs JOIN c1 ca ON pairs.brand_a = ca.pk
             JOIN c1 cb ON pairs.brand_b = cb.pk, n
)
SELECT brand_a, brand_b, c2::BIGINT AS n_orders_together,
       floor(lift_raw * 1000000 + 0.5) / 1000000 AS lift
FROM scored
ORDER BY lift_raw DESC, brand_a ASC, brand_b ASC
LIMIT 20
"""


def order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment cycle-time analytics: days from order placement to
    the LAST line shipment, summarized per order priority — count, mean
    (exact ×100), and the p50/p90 thresholds from the shared
    histogram-percentile operator (third call site; the cumulative
    window runs over the bounded day-value histogram, never a per-
    priority row sort). One fact⋈fact join on the order key reduced to
    per-order cycle days, then priority-level aggregation."""
    from ..operators import cleaning

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("_last_ship"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            F.datediff(F.col("_last_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("days"),
        )
        .localCheckpoint(eager=False)  # feeds thresholds + the summary
    )
    _, th = cleaning.histogram_disc_percentiles(
        per_order, "o_orderpriority", "days", {"p50_days": (50, 100), "p90_days": (90, 100)}
    )
    summary = per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("sum(days) * 100 DIV count(*)").alias("avg_days_x100"),
        F.max("days").alias("max_days"),
    )
    return summary.join(th, "o_orderpriority").select(
        "o_orderpriority", "n_orders", "avg_days_x100", "max_days", "p50_days", "p90_days"
    )


ORDER_CYCLE_SQL = """
WITH per_order AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', o_orderdate, last_ship) AS BIGINT) AS days
  FROM (SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY 1) s
  JOIN orders ON l_orderkey = o_orderkey
),
h AS (SELECT o_orderpriority, days, count(*) AS c FROM per_order GROUP BY 1, 2),
c AS (
  SELECT o_orderpriority, days, c,
         sum(c) OVER (PARTITION BY o_orderpriority ORDER BY days) AS cum,
         sum(c) OVER (PARTITION BY o_orderpriority) AS n
  FROM h
),
th AS (
  SELECT o_orderpriority,
         min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN days END) AS p50_days,
         min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN days END) AS p90_days
  FROM c GROUP BY 1
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(days) * 100 // count(*) AS BIGINT) AS avg_days_x100,
       CAST(max(days) AS BIGINT) AS max_days, p50_days, p90_days
FROM per_order JOIN th USING (o_orderpriority)
GROUP BY 1, 5, 6
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


# --- Herfindahl-Hirschman market concentration ------------------------------

HHI_SHARE_SCALE = 10000  #: shares in basis points; HHI on the 0..10000 scale


def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation over
    customer revenue shares — the antitrust-standard concentration
    measure (revenue_gini ranks inequality of the whole distribution;
    HHI = Σ share² is the regulator's threshold number, comparable
    against the 1500/2500 DOJ bands on the 0..10000 scale).

    Exactness: shares are FLOORED basis points (share_bp = rev·10⁴ div
    nation_rev, non-negative integer division), and the index is the
    exact integer Σ share_bp² div 10⁴ — the floored-share HHI, a
    deterministic, engine-identical statistic (documented as such: the
    real-valued HHI differs by at most |customers|·2·10⁻⁴·10⁴ from it).
    Non-negativity contract: rows with o_totalprice < 0 are filtered in
    BOTH engines (Spark ``div`` truncates toward zero, DuckDB ``//``
    floors — they differ on negatives; a credit-heavy customer could
    otherwise push _r or even _t below zero). int64 headroom: _r is
    per-(nation, customer) revenue in cents, so ``_r * 10⁴`` stays in
    int64 up to $9.2×10¹² per customer; ``Σ share_bp²`` is bounded by
    10⁸·|customers| — DuckDB's integer sum is HUGEINT either way.

    Scale shape: one (nation, customer) revenue aggregate (the only
    full-data shuffle), nation totals via a second bounded aggregate
    re-attached as a |nations|-row broadcast, and a final bounded
    groupBy — no windows over data-sized frames."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    rev = (
        orders.filter(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") >= 0))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("_r"))
    )
    tot = rev.groupBy("c_nationkey").agg(
        F.sum("_r").alias("_t"), F.count(F.lit(1)).alias("_nc")
    )
    shares = rev.join(F.broadcast(tot), "c_nationkey").select(
        "c_nationkey",
        "_nc",
        F.expr(f"(_r * {HHI_SHARE_SCALE}) div _t").alias("_s"),
    )
    return (
        shares.groupBy("c_nationkey")
        .agg(
            F.max("_nc").cast("long").alias("n_customers"),
            F.expr(f"CAST(sum(_s * _s) div {HHI_SHARE_SCALE} AS BIGINT)").alias("hhi"),
        )
        .select(
            "c_nationkey",
            "n_customers",
            "hhi",
            F.when(F.col("hhi") >= 2500, F.lit("high"))
            .when(F.col("hhi") >= 1500, F.lit("moderate"))
            .otherwise(F.lit("low"))
            .alias("band"),
        )
    )


HHI_SQL = f"""
WITH rev AS (
  SELECT c_nationkey, c_custkey, sum({CENTS_SQL.format(x="o_totalprice")}) AS r
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
  GROUP BY 1, 2
),
tot AS (SELECT c_nationkey, sum(r) AS t, count(*) AS nc FROM rev GROUP BY 1),
shares AS (
  SELECT rev.c_nationkey, nc, (r * {HHI_SHARE_SCALE}) // t AS s
  FROM rev JOIN tot ON rev.c_nationkey = tot.c_nationkey
)
SELECT c_nationkey,
       CAST(max(nc) AS BIGINT) AS n_customers,
       CAST(sum(s * s) // {HHI_SHARE_SCALE} AS BIGINT) AS hhi,
       CASE WHEN sum(s * s) // {HHI_SHARE_SCALE} >= 2500 THEN 'high'
            WHEN sum(s * s) // {HHI_SHARE_SCALE} >= 1500 THEN 'moderate'
            ELSE 'low' END AS band
FROM shares GROUP BY 1
"""


# --- bounded k-core of the part co-purchase graph --------------------------------

#: core threshold — below the co-purchase graph's degree p75 so peeling
#: is non-trivial at the tested SFs (measured: 1857/2000 nodes survive
#: at sf0.01, 18863/20000 at sf0.1, fixpoint in <= 7 rounds)
KCORE_K = 80
#: peel-round bound, part of the operator contract (the PageRank
#: fixed-iteration precedent); fixpoint measured well inside it
KCORE_PEELS = 10


def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core of the part co-purchase graph (parts adjacent
    when some order contains both — the triangle-count graph): peel
    edges whose endpoints have degree < k for at most KCORE_PEELS
    rounds and report the surviving core as a DEGREE HISTOGRAM
    (core_degree, n_nodes). The fourth classic graph kernel next to
    PageRank, connected components and triangles: the k-core is the
    standard dense-subgraph / influence-backbone extractor, and its
    peeling is the canonical iterative-until-fixpoint graph workload
    (here bounded — the documented-cap rule — with early exit when a
    round removes nothing, which leaves the result equal to the
    fixed-round definition).

    Exactness: pure integer degree counting end to end; the peel is a
    deterministic function of (graph, k, rounds), replayed by Spark as
    a driver loop over degree windows (operators/graph.kcore_edges)
    and by DuckDB as a recursive CTE whose per-round state is filtered
    by the SAME two degree windows — single recursive reference, no
    aggregate-in-recursion needed.

    Scale shape: the distinct (order, part) projection and the
    co-purchase self-join are the data-sized work (bounded per order
    by basket size — the basket_part_pairs justification); each peel
    round is two degree windows over the shrinking edge set,
    O(KCORE_PEELS) shuffles total (the PageRank iterative-kernel
    justification); output is a degree histogram, bounded by the
    degree range."""
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk")
    ).distinct()
    x, y = op.alias("x"), op.alias("y")
    pairs = x.join(
        y, (F.col("x._ok") == F.col("y._ok")) & (F.col("x._pk") < F.col("y._pk"))
    ).select(F.col("x._pk").alias("src"), F.col("y._pk").alias("dst")).distinct()
    und = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = graph.kcore_edges(und, KCORE_K, KCORE_PEELS)
    hist = (
        core.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .groupBy(F.col("_d").cast("long").alias("core_degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    # Cache ownership (kcore_edges contract): materialize the BOUNDED
    # degree histogram (rows <= the degree range, a few hundred) as an
    # eager localCheckpoint while the final round's cache is hot, then
    # release the doubled-edge blocks — otherwise they stay resident for
    # the rest of the session (the bench driver runs 300+ queries in
    # one). The leaked checkpoint blocks are the histogram only.
    out = hist.localCheckpoint(eager=True)
    core.unpersist(blocking=False)
    return out


KCORE_SQL = f"""
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
),
und AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
peel(iter, src, dst) AS (
  SELECT 0, src, dst FROM und
  UNION ALL
  SELECT iter + 1, src, dst FROM (
    SELECT iter, src, dst,
           count(*) OVER (PARTITION BY src) AS ds,
           count(*) OVER (PARTITION BY dst) AS dd
    FROM peel
  ) WHERE ds >= {KCORE_K} AND dd >= {KCORE_K} AND iter < {KCORE_PEELS}
),
core AS (SELECT src FROM peel WHERE iter = {KCORE_PEELS}),
deg AS (SELECT src, count(*) AS d FROM core GROUP BY 1)
SELECT CAST(d AS BIGINT) AS core_degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
"""
