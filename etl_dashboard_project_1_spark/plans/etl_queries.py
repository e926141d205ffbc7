"""Correctness-gate query pairs for the cleaning/derive operators (N1-N6,
D1-D10 — SURVEY.md §2.4/§2.5), exercised on the driver's synthetic tables
per the FIXTURES.md operator→table mapping.

Each ``<op>(spark, sf_dir)`` has a matching ``<OP>_SQL`` DuckDB oracle with
identical column names and rounding, so the driver's order-insensitive
value-hash comparison is float-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import Sql
from ..operators import cleaning, derive
from ..session import load_table


# --- N1: sentinel → null ----------------------------------------------------

def n1_sentinel_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", cleaning.sentinel_to_null("lang", sentinel="en").alias("lang_clean")
    )


N1_SQL = "SELECT doc_id, NULLIF(lang, 'en') AS lang_clean FROM documents"


# --- N2: forward-fill (partitioned, scale-safe shape) -----------------------

def n2_ffill_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nullify clicks' values, then ffill per user in event-time order.
    Window is PARTITIONED by user_id — shuffles once on the key; no global
    single-partition ordering anywhere."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_masked",
        F.when(F.col("event_type") == "click", F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    filled = cleaning.ffill(
        ev, ["value_masked"], order_cols=["ts", "event_id"], partition_cols=["user_id"]
    )
    return filled.select(
        "event_id", "user_id", F.round("value_masked", 2).alias("value_filled")
    )


N2_SQL = """
SELECT event_id, user_id,
       round(last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_filled
FROM events
"""


# --- N4: mean imputation ----------------------------------------------------

def n4_mean_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically mask every 10th customer's balance, impute with the
    global round(avg, 2). The mean is a two-phase aggregate folded back in
    as a literal (no unpartitioned window)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "acctbal_masked",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("double")).otherwise(
            F.col("c_acctbal")
        ),
    )
    imputed = cleaning.mean_impute(cust, ["acctbal_masked"], decimals=2)
    return imputed.select(
        "c_custkey", F.round("acctbal_masked", 2).alias("acctbal_imputed")
    )


N4_SQL = """
WITH m AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS v
  FROM customer
), s AS (SELECT round(avg(v), 2) AS mv FROM m)
SELECT c_custkey, round(coalesce(v, mv), 2) AS acctbal_imputed FROM m, s
"""


# --- N5 + N6: constant fix-up & conditional replacement ---------------------

def n5_n6_conditional_fixups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 (force a constant for one class: error events → 0.0) and N6
    (replace one literal value with another: 'view' → 'impression')."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        cleaning.replace_value("event_type", "view", "impression").alias("event_type_fixed"),
        F.round(
            cleaning.constant_fixup("value", "event_type", "error", 0.0), 2
        ).alias("value_fixed"),
    )


N5_N6_SQL = """
SELECT event_id,
       CASE WHEN event_type = 'view' THEN 'impression' ELSE event_type END AS event_type_fixed,
       round(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END, 2)    AS value_fixed
FROM events
"""


# --- D1/D2: datetime parse + year extract, numeric cast ---------------------

def d1_d2_datetime_and_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 year extraction driving a yearly rollup; D2's coercing cast shown
    on a string-ified column round-tripped to double."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("anio", derive.extract_year("o_orderdate").cast("long"))
        .withColumn("price_d", derive.numeric_cast(Sql("CAST(o_totalprice AS STRING)")))
        .groupBy("anio")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price_d"), 2).alias("total_price"),
        )
    )


D1_D2_SQL = """
SELECT year(o_orderdate) AS anio,
       count(*) AS n_orders,
       round(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE)), 2) AS total_price
FROM orders
GROUP BY year(o_orderdate)
"""


# --- D5: CASE categorization ------------------------------------------------

PART_TYPE_CATEGORIES = {
    "budget": ["ECONOMY", "STANDARD"],
    "premium": ["LARGE", "PROMO"],
    "compact": ["SMALL", "MEDIUM"],
}


def d5_case_categorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn(
            "type_category", derive.case_map("p_type", PART_TYPE_CATEGORIES, default="")
        )
        .groupBy("type_category")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
    )


D5_SQL = """
SELECT CASE WHEN p_type IN ('ECONOMY', 'STANDARD') THEN 'budget'
            WHEN p_type IN ('LARGE', 'PROMO')      THEN 'premium'
            WHEN p_type IN ('SMALL', 'MEDIUM')     THEN 'compact'
            ELSE '' END AS type_category,
       count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
FROM part
GROUP BY 1
"""


# --- D6: factor-table arithmetic -------------------------------------------

RETURNFLAG_FACTORS = {
    ("A",): ("l_extendedprice", 0.9),
    ("N",): ("l_extendedprice", 1.0),
    ("R",): ("l_extendedprice", 1.1),
}


def d6_factor_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 49-pass masked factor loop as ONE chained CASE
    (src/transform_pipeline.py:100-130) — here a 3-key demo table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "adj_price",
            # round once at the aggregate, not per row: per-row rounding is
            # where engines' tie-break semantics (HALF_UP vs banker's)
            # diverge, and it loses precision for no benefit
            derive.factor_product(["l_returnflag"], RETURNFLAG_FACTORS, decimals=None),
        )
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("adj_price"), 2).alias("sum_adj_price"))
    )


D6_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice * 0.9
                      WHEN l_returnflag = 'N' THEN l_extendedprice * 1.0
                      WHEN l_returnflag = 'R' THEN l_extendedprice * 1.1
                 END), 2) AS sum_adj_price
FROM lineitem
GROUP BY l_returnflag
"""


# --- D7: keyed source-column selection -------------------------------------

def d7_keyed_source_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = derive.keyed_source_select(
        "l_linestatus", {"O": "l_extendedprice", "F": "l_quantity"}
    )
    return (
        li.withColumn("keyed_value", src)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("keyed_value"), 2).alias("sum_keyed"))
    )


D7_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DOUBLE)
                      WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DOUBLE) END), 2) AS sum_keyed
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# --- D8: threshold bucketing ------------------------------------------------

def d8_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open buckets, out-of-range → null (reference: TIPO_LDV weight
    classes, src/transform_pipeline.py:188-193)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.withColumn(
            "bal_bucket",
            derive.bucketize("c_acctbal", [-1000.0, 0.0, 5000.0], ["negative", "low"]),
        )
        .groupBy("bal_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


D8_SQL = """
SELECT CASE WHEN c_acctbal >= -1000.0 AND c_acctbal < 0.0    THEN 'negative'
            WHEN c_acctbal >= 0.0     AND c_acctbal < 5000.0 THEN 'low'
       END AS bal_bucket,
       count(*) AS n
FROM customer
GROUP BY 1
"""


# --- D9: horizontal family mean --------------------------------------------

def d9_horizontal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise mean with the reference's exact divisor semantics: nulls
    count 0 in the numerator, divisor = column count (pandas sum/len)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        derive.portable_round(
            derive.horizontal_mean(["p_size", "p_retailprice"], decimals=None), 2
        ).alias("family_mean"),
    )


D9_SQL = """
SELECT p_partkey,
       floor(((coalesce(CAST(p_size AS DOUBLE), 0) + coalesce(p_retailprice, 0)) / 2.0)
             * 100 + 0.5) / 100 AS family_mean
FROM part
"""


# --- D10: stable 12-hex sha256 id ------------------------------------------

def d10_hash12(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", derive.hash12("text").alias("text_hash12"))


D10_SQL = "SELECT doc_id, substr(sha256(text), 1, 12) AS text_hash12 FROM documents"
