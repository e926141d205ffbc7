"""Dataset profiling & correlation analytics:

- one-pass numeric column profiler (the DQ summary a pipeline runs
  before trusting a new drop),
- per-nation revenue trend via built-in linear regression aggregates,
- event-type co-occurrence lift (market-basket association on user
  behavior),
- day-of-week × hour activity heatmap,
- deterministic training-shard manifest (md5-bucketed, rerun-stable),
- privacy and data-quality audits (k-anonymity, l-diversity, t-closeness,
  noisy counts, Benford, id continuity, zone-map skipping).

All single-pass Catalyst aggregations; the profiler computes every
column's stats in ONE scan (stack/unpivot after the aggregate, never
one scan per column).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import derive
from ..operators.derive import CENTS_SQL, cents
from ..operators.sampling import hash_bucket
from ..session import fan_out, load_table
from .training_queries import MD5_BIGINT

PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def profile_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric profile of lineitem in ONE scan: per column n, nulls,
    min/max, mean, sample stddev. The aggregate produces a single wide
    row; `stack` unpivots it to long form driver-side-free."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
            F.round(F.stddev_samp(c), 4).alias(f"{c}__std"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__min, {c}__max, {c}__mean, {c}__std"
        for c in PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n, n_nulls, min_val, max_val, mean_val, std_val)"
        )
    )


PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count({c}) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       round(min({c}), 4) AS min_val, round(max({c}), 4) AS max_val,
       round(avg({c}), 4) AS mean_val, round(stddev_samp({c}), 4) AS std_val
FROM lineitem"""
    for c in PROFILE_COLS
)


def trend_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue per customer nation, then the linear trend
    (slope + intercept over year) — two distributed aggregations, no
    driver math.

    The regression is computed from exact integer partial sums (revenue
    in cents via portable half-up rounding, years as ints) and a fixed
    scalar formula, NOT `regr_slope`/`regr_intercept`. The built-ins
    accumulate double partial sums whose order differs across engines;
    at ~1e9 magnitudes that noise reaches the 2nd decimal's rounding
    boundary and flips a 2dp round (seen live: intercept .66 vs .65).
    Integer sums are order-independent and exact, and the final few
    double ops are written identically on both sides, so the result is
    bit-identical across Spark and the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    yearly = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    sums = yearly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("yr").cast("double").alias("sx"),
        F.sum("rev_cents").cast("double").alias("sy"),
        F.sum(F.col("yr").cast("long") * F.col("rev_cents")).cast("double").alias("sxy"),
        F.sum(F.col("yr") * F.col("yr")).cast("double").alias("sxx"),
        F.count(F.lit(1)).alias("n_years"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_raw = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    # a single-year nation (possible only on tiny/degenerate inputs)
    # leaves the regression undefined: den = 0 -> NULL, mirrored CASE
    # (found by the all-ties sweep, tools/tiny_sweep.py)
    return sums.select(
        "nation",
        F.when(den > 0, F.floor(slope_raw + F.lit(0.5)) / F.lit(100)).alias(
            "slope"
        ),
        F.when(
            den > 0,
            F.floor((F.col("sy") - slope_raw * F.col("sx")) / F.col("n") + F.lit(0.5))
            / F.lit(100),
        ).alias("intercept"),
        "n_years",
    )


TREND_SQL = """
WITH yearly AS (
  SELECT n_name AS nation, year(o_orderdate) AS yr,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), sums AS (
  SELECT nation,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(yr) AS DOUBLE) AS sx,
         CAST(sum(rev_cents) AS DOUBLE) AS sy,
         CAST(sum(yr * rev_cents) AS DOUBLE) AS sxy,
         CAST(sum(yr * yr) AS DOUBLE) AS sxx,
         CAST(count(*) AS BIGINT) AS n_years
  FROM yearly
  GROUP BY nation
)
SELECT nation,
       CASE WHEN n * sxx - sx * sx > 0 THEN
            floor((n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5) / 100
       END AS slope,
       CASE WHEN n * sxx - sx * sx > 0 THEN
            floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n + 0.5) / 100
       END AS intercept,
       n_years
FROM sums
"""


def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types: for each type pair (a, b),
    lift = P(a∧b) / (P(a)·P(b)) over users. Distinct (user, type) first
    (collapses the fact table to ≤ users × |types| rows), then a
    self-join on user — the join explodes only per-user type pairs
    (|types|² ≤ 36 per user), never document pairs. All counts are
    integers, so the ratio is cross-engine exact."""
    ev = load_table(spark, sf_dir, "events")
    # ONE shuffle collapses the fact table to a sorted per-user type set;
    # pair/single/total counts then come out of ONE more aggregation over
    # marker rows generated by a pure array expression per user:
    #   (a, b)      — per-user type pair (flatten ∘ indexed transform,
    #                 ≤ |types|² elements per row)
    #   (a, null)   — singles marker
    #   (null,null) — one per user → distinct-user total
    # The old formulation (distinct + self-join + three stat joins)
    # recomputed the events scan on every branch (4 scans, 9 exchanges,
    # no AQE exchange reuse because each branch prunes differently);
    # this one is 1 scan and 2 exchanges. The counts table is
    # |types|²-bounded — metadata-sized by construction — so the final
    # lift arithmetic happens on collected rows, exactly like the
    # k-means centroids and ffill partition-carry driver states.
    sets = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("_ts")
    )
    null_s = F.lit(None).cast("string")
    combos = F.flatten(
        F.transform(
            "_ts",
            lambda x, i: F.transform(
                F.slice("_ts", i + 2, F.greatest(F.size("_ts") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("ta"), y.alias("tb")),
            ),
        )
    )
    markers = F.concat(
        F.array(F.struct(null_s.alias("ta"), null_s.alias("tb"))),
        F.transform("_ts", lambda x: F.struct(x.alias("ta"), null_s.alias("tb"))),
        combos,
    )
    counts = (
        sets.select(F.explode(markers).alias("_p"))
        .groupBy(F.col("_p.ta").alias("ta"), F.col("_p.tb").alias("tb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = counts.collect()
    n_users = next((r["n"] for r in rows if r["ta"] is None), 0)
    if n_users == 0:  # empty events table → empty result, declared schema
        return spark.createDataFrame(
            [], "type_a string, type_b string, n_both bigint, lift double"
        )
    n_single = {r["ta"]: r["n"] for r in rows if r["ta"] is not None and r["tb"] is None}
    out = [
        (
            r["ta"],
            r["tb"],
            r["n"],
            float(r["n"] * n_users) / (n_single[r["ta"]] * n_single[r["tb"]]),
        )
        for r in rows
        if r["ta"] is not None and r["tb"] is not None
    ]
    return (
        spark.createDataFrame(out, "type_a string, type_b string, n_both bigint, lift double")
        .withColumn("lift", F.round("lift", 4))
    )


EVENT_LIFT_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
singles AS (SELECT event_type, count(*) AS n_single FROM ut GROUP BY event_type),
total AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(n_both * n_users / (sa.n_single * sb.n_single)::DOUBLE, 4) AS lift
FROM pairs
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
CROSS JOIN total
"""


def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (1 = Sunday, matching both
    engines after normalization): counts + value totals in one
    aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


HEATMAP_SQL = """
SELECT (dayofweek(ts) + 1)::BIGINT AS dow, hour(ts)::BIGINT AS hour,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


SHARD_BUCKETS = 32


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest: every document lands in an
    md5 bucket (rerun-stable, layout-independent); the manifest reports
    per-shard doc and char totals — what a training loader reads to plan
    epoch scheduling. Bucket assignment is map-only; one groupBy."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn(
            "shard_id", hash_bucket(F.col("doc_id"), "shard", SHARD_BUCKETS).cast("long")
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SHARD_MANIFEST_SQL = f"""
SELECT ('0x' || substr(md5(doc_id::VARCHAR || 'shard'), 1, 8))::BIGINT % {SHARD_BUCKETS}
         AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
"""


def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over orders: interleave (custkey, order-day)
    into a Morton key, cut the key space into 256 range buckets (the
    files a z-ordered write would produce), and report each bucket's row
    count plus min/span of BOTH dimensions. Tight per-bucket spans in
    both columns at once are the property that makes parquet min/max
    stats prune files for predicates on EITHER column.
    The same generated integer formula runs on both engines — see
    operators.layout.zorder_sql."""
    from ..operators.layout import zorder_sql

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
        .cast("long")
        .alias("dy"),
    )
    # data-driven [0, 256) quantization: scale-independent (works at any
    # SF's key range), bounds are a 1-row broadcast, arithmetic integer
    bounds = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    xq = "(((ck - ck_lo) * 256) DIV (ck_hi - ck_lo + 1))"
    yq = "(((dy - dy_lo) * 256) DIV (dy_hi - dy_lo + 1))"
    bucket = F.expr(f"({zorder_sql(xq, yq, 8, 'DIV')}) DIV 256")
    return (
        base.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("ck_min"),
            (F.max("ck") - F.min("ck")).alias("ck_span"),
            F.min("dy").alias("dy_min"),
            (F.max("dy") - F.min("dy")).alias("dy_span"),
        )
        .orderBy("bucket")
    )


from ..operators.layout import zorder_sql as _zsql  # noqa: E402

ZORDER_SQL = f"""
WITH base AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS dy
  FROM orders
),
bounds AS (
  SELECT min(ck) AS ck_lo, max(ck) AS ck_hi, min(dy) AS dy_lo, max(dy) AS dy_hi
  FROM base
),
zb AS (
  SELECT ck, dy,
         ({_zsql('(((ck - ck_lo) * 256) // (ck_hi - ck_lo + 1))',
                 '(((dy - dy_lo) * 256) // (dy_hi - dy_lo + 1))', 8, '//')}) // 256 AS bucket
  FROM base CROSS JOIN bounds
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(ck) AS ck_min, max(ck) - min(ck) AS ck_span,
       min(dy) AS dy_min, max(dy) - min(dy) AS dy_span
FROM zb
GROUP BY bucket
ORDER BY bucket
"""


COMPACT_BINS = 8


def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: pack the 32 manifest shards into
    COMPACT_BINS roughly-equal-char output files, preserving shard order
    (ordered packing keeps each output file a contiguous shard range, so
    downstream range predicates still prune). Bin assignment is the
    classic ordered cumulative-sum quantizer:
    ``bin = (chars_before * BINS) DIV total_chars``.

    Scale shape: the corpus scan reduces to the md5-bucketed manifest
    (one shuffle, O(shards) rows); the cumulative window and the packing
    run over file METADATA, never data — exactly how a lakehouse
    compaction service plans rewrites (cf. Delta/Iceberg bin-packing
    OPTIMIZE). Exact integer arithmetic end to end."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    man = (
        docs.withColumn(
            "shard_id", hash_bucket(F.col("doc_id"), "shard", SHARD_BUCKETS).cast("long")
        )
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
    )
    # manifest-sized window (O(shards) rows = file metadata, not data)
    before = Window.orderBy("shard_id").rowsBetween(Window.unboundedPreceding, -1)
    c = man.select(
        "shard_id",
        "n_docs",
        "chars",
        F.coalesce(F.sum("chars").over(before), F.lit(0)).alias("cum_before"),
        F.sum("chars").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    return (
        c.groupBy(
            F.expr(f"(cum_before * {COMPACT_BINS}) DIV total").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("chars").alias("sum_chars"),
            F.min("shard_id").alias("min_shard"),
            F.max("shard_id").alias("max_shard"),
        )
    )


COMPACTION_BINS_SQL = f"""
WITH man AS (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR || 'shard'), 1, 8))::BIGINT % {SHARD_BUCKETS}
           AS shard_id,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
),
c AS (
  SELECT shard_id, n_docs, chars,
         coalesce(sum(chars) OVER (ORDER BY shard_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(chars) OVER () AS total
  FROM man
)
SELECT CAST((cum_before * {COMPACT_BINS}) // total AS BIGINT) AS bin_id,
       count(*) AS n_shards, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS sum_chars,
       min(shard_id) AS min_shard, max(shard_id) AS max_shard
FROM c GROUP BY 1
"""


def user_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration (Lorenz/Pareto) report: bucket users into
    deciles by exact total-value quantiles and report each decile's user
    count, value sum, and share of corpus value.

    Scale shape: NO global window anywhere — the naive formulation
    (rank/ntile over all users) serializes the user table through one
    task. Instead: (1) one shuffle builds per-user totals; (2) the nine
    exact decile BOUNDS come from one percentile aggregate (a 1-row
    broadcast); (3) users bucket by comparing against the broadcast
    bounds — a map-side expression; (4) one dimension-sized groupBy on
    the bucket id. The corpus total is a second 1-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.sum("value").alias("_t"))
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = totals.agg(
        F.expr(f"percentile(_t, array({','.join(str(q) for q in qs)}))").alias("_b")
    )
    grand = totals.agg(F.sum("_t").alias("_g"))
    bucket = (
        F.aggregate(
            F.col("_b"), F.lit(1), lambda acc, b: acc + F.when(F.col("_t") > b, 1).otherwise(0)
        )
        .cast("long")  # DuckDB's 1 + len(...) is BIGINT; match it
        .alias("decile")
    )
    return (
        totals.crossJoin(F.broadcast(bounds))
        .select("user_id", "_t", bucket)
        .crossJoin(F.broadcast(grand))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            derive.portable_round(F.sum("_t"), 2).alias("sum_value"),
            derive.portable_round(F.sum(F.col("_t") / F.col("_g")), 4).alias("share"),
        )
    )


PARETO_SQL = """
WITH totals AS (
  SELECT user_id, sum(value) AS t FROM events GROUP BY 1
),
b AS (SELECT quantile_cont(t, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM totals),
g AS (SELECT sum(t) AS gt FROM totals),
bucketed AS (
  SELECT user_id, t,
         1 + len(list_filter(b.bs, x -> t > x)) AS decile
  FROM totals, b
)
SELECT decile, count(*) AS n_users,
       floor(sum(t) * 100 + 0.5) / 100 AS sum_value,
       floor(sum(t / g.gt) * 10000 + 0.5) / 10000 AS share
FROM bucketed, g
GROUP BY decile
"""


SKEW_TOPK = 20

#: mean-load multiple ×100 with the cnt·n_keys·100 product in exact
#: decimal(38,0) (Spark) — module-level so the expression itself is
#: unit-testable at count magnitudes no physical-row fixture can reach
#: (tests/test_scale_plans.py::test_count_headroom_expression_forms).
X_MEAN_X100_EXPR = "(CAST(cnt AS DECIMAL(38,0)) * n_keys * 100) DIV total"


def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the report that decides whether a key
    needs salting BEFORE the job falls over — top-20 hottest user_ids
    with each key's share of all rows (basis points) and its multiple of
    the mean key load (×100). A key at many times the mean is the one
    AQE skew-join or a salted aggregate (operators/skew.py) must absorb.

    Scale shape: one shuffle to per-key counts; the hot-key report is a
    sort-limit top-k (TakeOrdered, no global sort); the corpus totals
    ride along as a 1-row broadcast. Shares are exact integer quotients.
    """
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    totals = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total")
    )
    top = per_key.orderBy(F.col("cnt").desc(), "user_id").limit(SKEW_TOPK)
    rank_w = Window.orderBy(F.col("cnt").desc(), "user_id")  # 20-row result
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(rank_w).cast("long").alias("hot_rank"),
            "user_id",
            "cnt",
            F.expr("(cnt * 10000) DIV total").alias("share_bp"),
            # r10 count-headroom audit fix: cnt·n_keys·100 rode plain
            # int64, which wraps once a hot key's count × the key
            # cardinality passes ~9.2e16 (1e9 keys with a 1e8-row whale
            # key already exceeds it — both large simultaneously is the
            # NORMAL skewed-corpus shape this profiler exists for). The
            # product now rides decimal(38,0)/HUGEINT; the QUOTIENT is
            # safe in BIGINT by algebra (cnt ≤ total ⇒ x_mean_x100 ≤
            # 100·n_keys < int64 for any n_keys < 9.2e16 keys).
            F.expr(X_MEAN_X100_EXPR).alias("x_mean_x100"),
        )
    )


SKEW_PROFILE_SQL = f"""
WITH per_key AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
      FROM per_key),
top AS (SELECT * FROM per_key ORDER BY cnt DESC, user_id LIMIT {SKEW_TOPK})
SELECT row_number() OVER (ORDER BY cnt DESC, user_id) AS hot_rank,
       user_id, cnt,
       CAST((cnt * 10000) // total AS BIGINT) AS share_bp,
       -- HUGEINT product mirror of the Spark decimal(38,0) form; the
       -- quotient is int64-safe by algebra (cnt <= total)
       CAST((CAST(cnt AS HUGEINT) * n_keys * 100) // total AS BIGINT) AS x_mean_x100
FROM top CROSS JOIN t
"""


#: candidate functional dependencies to profile: (name, table, lhs, rhs)
FD_CANDIDATES = [
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("customer.c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("orders.o_custkey->o_orderstatus", "orders", "o_custkey", "o_orderstatus"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
]


def fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiler: for each candidate A→B, how many
    A-groups exist, how many carry >1 distinct B (violations), and the
    worst fan-out — the schema-discovery pass that decides whether a
    column can serve as a merge/partition key or needs SCD treatment.

    Scale shape: one groupBy per candidate on its own table (the
    countDistinct rewrites to a two-level partial aggregate), each
    reduced to a single summary row before the tiny union."""
    parts = []
    for name, table, lhs, rhs in FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("v"))
        parts.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.coalesce(
                    F.sum((F.col("v") > 1).cast("long")), F.lit(0)
                ).alias("n_violating"),
                F.coalesce(F.max("v"), F.lit(0)).alias("max_fanout"),
            ).select(
                "fd",
                "n_groups",
                "n_violating",
                "max_fanout",
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


FD_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(max(v) AS BIGINT) AS max_fanout,
       sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS v FROM {table} GROUP BY 1)"""
    for name, table, lhs, rhs in FD_CANDIDATES
)


JCE_RATE = 10  # key-sample 1-in-10


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-style join-size estimation by KEY sampling: hash-sample
    1-in-10 join keys, sum the per-key count products on the sample,
    scale by the rate — the statistic a CBO consults before choosing a
    join strategy. The exact cardinality (full Σ cntA·cntB) rides along
    so the report carries its own error in basis points.

    Scale shape: each side reduces to per-key counts first (one shuffle
    each — the count tables are key-cardinality-sized), the count join
    is key-sized, and BOTH the sampled and exact sums come from that one
    joined table. Key sampling (not row sampling) is what keeps the
    estimator unbiased for joins."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    a = ev.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    b = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    j = a.join(b, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("p"),
        (hash_bucket(F.col("k"), "jce", JCE_RATE) == 0).alias("in_sample"),
    )
    agg = j.agg(
        F.sum("p").alias("exact_rows"),
        (F.coalesce(F.sum(F.when(F.col("in_sample"), F.col("p"))), F.lit(0)) * JCE_RATE)
        .alias("est_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
        F.sum(F.col("in_sample").cast("long")).alias("n_sampled_keys"),
    )
    return agg.select(
        "n_join_keys",
        "n_sampled_keys",
        "exact_rows",
        "est_rows",
        F.expr("abs(est_rows - exact_rows) * 10000 DIV exact_rows").alias("err_bp"),
    )


JOIN_CARD_SQL = f"""
WITH a AS (SELECT user_id AS k, count(*) AS ca FROM events GROUP BY 1),
b AS (SELECT o_custkey AS k, count(*) AS cb FROM orders GROUP BY 1),
j AS (
  SELECT a.k, ca * cb AS p,
         ('0x' || substr(md5(a.k::VARCHAR || 'jce'), 1, 8))::BIGINT % {JCE_RATE} = 0
           AS in_sample
  FROM a JOIN b USING (k)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
         CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled_keys,
         CAST(sum(p) AS BIGINT) AS exact_rows,
         CAST(coalesce(sum(CASE WHEN in_sample THEN p END), 0) * {JCE_RATE} AS BIGINT)
           AS est_rows
  FROM j
)
SELECT n_join_keys, n_sampled_keys, exact_rows, est_rows,
       CAST(abs(est_rows - exact_rows) * 10000 // exact_rows AS BIGINT) AS err_bp
FROM s
"""


K_ANON = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance k-anonymity audit: group the customer table by
    its quasi-identifier set (market segment × nation) and report the
    equivalence-class size histogram plus how many ROWS sit in classes
    below k=5 — the re-identification risk measure a release gate
    checks before publishing.

    One shuffle to QI classes; the histogram groupBy runs over the
    |segments|×|nations|-bounded class table."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < K_ANON).alias("below_k"),
        )
    )


K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS class_size
  FROM customer GROUP BY 1, 2
)
SELECT class_size, count(*) AS n_classes,
       CAST(class_size * count(*) AS BIGINT) AS n_rows,
       class_size < {K_ANON} AS below_k
FROM classes GROUP BY 1
"""


#: string columns worth a dictionary-encoding assessment: (label, table, col)
ENC_COLUMNS = [
    ("orders.o_orderstatus", "orders", "o_orderstatus"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag"),
    ("part.p_brand", "part", "p_brand"),
    ("part.p_type", "part", "p_type"),
    ("events.event_type", "events", "event_type"),
]


def column_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: for each candidate string column, the
    exact dictionary-encoding economics — raw bytes vs (dictionary +
    bit-packed codes) — the estimate a columnar writer uses to choose
    PLAIN vs DICT pages. Code width is ceil(log2(ndv)) computed as
    length(bin(ndv-1)) — pure integer arithmetic, no engine log2.

    Shared-scan shape (adopted after the r4 A/B): each table is scanned ONCE and its
    candidate columns unpivot via stack(); the streams union and a
    single groupBy(column_name, v) histogram feeds one keyed summary
    aggregate — 2 exchanges total vs 12 for six independent per-column
    jobs (measured 0.35 s vs 0.47 s at sf0.1; both shuffles are
    value-space-bounded, so the fused form also wins at scale where
    scan cost dominates)."""
    by_table: dict[str, list[tuple[str, str]]] = {}
    for label, table, col in ENC_COLUMNS:
        by_table.setdefault(table, []).append((label, col))
    streams = []
    for table, cols in by_table.items():
        exprs = ", ".join(f"'{label}', {col}" for label, col in cols)
        streams.append(
            load_table(spark, sf_dir, table).select(
                F.expr(f"stack({len(cols)}, {exprs}) AS (column_name, v)")
            )
        )
    u = streams[0]
    for s in streams[1:]:
        u = u.unionByName(s)
    h = u.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("c"))
    # left-join from the config-sized label list so an EMPTY table still
    # yields its columns' rows (ndv 0, NULL byte stats) — the per-column
    # agg-without-groupBy form and the UNION-ALL oracle both do; a bare
    # groupBy would silently drop them
    labels = spark.createDataFrame([(label,) for label, _t, _c in ENC_COLUMNS], ["column_name"])
    return (
        labels.join(
            h.groupBy("column_name").agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("ndv"),
                F.sum(F.col("c") * F.octet_length("v")).alias("raw_bytes"),
                F.sum(F.octet_length("v")).alias("dict_bytes"),
            ),
            "column_name",
            "left",
        )
        .withColumn("ndv", F.coalesce(F.col("ndv"), F.lit(0)))
        .select(
            "column_name",
            "n_rows",
            "ndv",
            "raw_bytes",
            "dict_bytes",
            F.expr("CASE WHEN ndv >= 2 THEN length(bin(ndv - 1)) ELSE 1 END")
            .cast("long")
            .alias("code_bits"),
        )
        .select(
            "*",
            F.expr("(n_rows * code_bits + 7) DIV 8").alias("code_bytes"),
        )
        .select(
            "*",
            F.expr("raw_bytes * 10000 DIV (dict_bytes + code_bytes)").alias("ratio_bp"),
        )
    )


ENCODING_ADVISOR_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{label}' AS column_name,
       CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS ndv,
       CAST(sum(c * b) AS BIGINT) AS raw_bytes, CAST(sum(b) AS BIGINT) AS dict_bytes,
       CAST(CASE WHEN count(*) >= 2 THEN length(bin(count(*) - 1)) ELSE 1 END AS BIGINT)
         AS code_bits,
       CAST((sum(c) * (CASE WHEN count(*) >= 2 THEN length(bin(count(*) - 1)) ELSE 1 END)
             + 7) // 8 AS BIGINT) AS code_bytes,
       CAST(sum(c * b) * 10000 //
            (sum(b) + (sum(c) * (CASE WHEN count(*) >= 2
                                      THEN length(bin(count(*) - 1)) ELSE 1 END) + 7) // 8)
            AS BIGINT) AS ratio_bp
FROM (SELECT {col} AS v, count(*) AS c, octet_length(encode({col})) AS b
      FROM {table} GROUP BY 1, 3)"""
    for label, table, col in ENC_COLUMNS
)


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


# --- deterministic discrete-Laplace noisy counts ------------------------------

#: discrete Laplace (two-sided geometric) with alpha = 1/2, tails
#: clamped to [-8, 8]: P(X=k) = (1/3)(1/2)^|k|, an EXACT rational law.
#: Thresholds are floor(P(X' <= k) * 2^30) computed once in exact
#: Fraction arithmetic and interpolated into BOTH engines — zero
#: runtime transcendentals, zero float probability anywhere.
DP_NOISE_MAX = 8
_DP_WHEEL = 1 << 30


def _dp_thresholds() -> list[int]:
    a = Fraction(1, 2)
    p0 = (1 - a) / (1 + a)
    # clamped law: mass of |k| >= MAX collapses onto +/-MAX
    probs = {}
    for k in range(-DP_NOISE_MAX + 1, DP_NOISE_MAX):
        probs[k] = p0 * a ** abs(k)
    tail = (p0 * a**DP_NOISE_MAX) / (1 - a)  # sum_{j >= MAX} p0*a^j
    probs[-DP_NOISE_MAX] = tail
    probs[DP_NOISE_MAX] = tail
    cum, out = Fraction(0), []
    for k in range(-DP_NOISE_MAX, DP_NOISE_MAX + 1):
        cum += probs[k]
        out.append(min(int(cum * _DP_WHEEL), _DP_WHEEL))
    out[-1] = _DP_WHEEL  # exact total mass
    return out


_DP_T = _dp_thresholds()

#: CASE ladder mapping u in [0, 2^30) to the noise value — one string,
#: valid in BOTH engines (plain CASE WHEN / ELSE).
_DP_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {{u}} < {t} THEN {k}"
        for k, t in zip(range(-DP_NOISE_MAX, DP_NOISE_MAX), _DP_T[:-1])
    )
    + f" ELSE {DP_NOISE_MAX} END"
)


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style noisy release of the per
    (event_type, day) activity counts: each cell's true count, a
    discrete-Laplace noise draw (alpha=1/2, clamped +/-8, the geometric
    mechanism for eps = ln 2 count queries), and the clamped-at-zero
    noisy count. The draw is DETERMINISTIC — the md5 wheel keyed on the
    cell — so releases are reproducible and engine-portable, the same
    policy every "randomized" house query follows (epoch shuffle,
    bootstrap, poisson mixing all ride the same wheel).

    Exactness: the inverse CDF is a precomputed EXACT rational ladder
    (Fraction arithmetic, floor to the 2^30 wheel) interpolated into
    both engines; u = md5(type|day|salt) % 2^30. No runtime
    transcendental, no float probability.

    Scale shape: one groupBy to the |types| x |days| cell frame;
    the noise map is a scalar CASE ladder — map-only after the
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    from ..operators import dedup

    u = (
        dedup.md5_int(
            F.concat(
                F.col("event_type"),
                F.lit("|"),
                F.col("day").cast("string"),
                F.lit("|dplap"),
            )
        )
        % _DP_WHEEL
    )
    noisy = cells.withColumn("_u", u).withColumn(
        "noise", F.expr(_DP_CASE.format(u="_u")).cast("long")
    )
    return noisy.select(
        "event_type",
        "day",
        "n",
        "noise",
        F.greatest(F.col("n") + F.col("noise"), F.lit(0))
        .cast("long")
        .alias("noisy_n"),
    )


DP_NOISY_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
drawn AS (
  SELECT event_type, day, n,
         {MD5_BIGINT.format(expr="event_type || '|' || day::VARCHAR || '|dplap'")}
           % {_DP_WHEEL} AS u
  FROM cells
)
SELECT event_type, day, n,
       CAST({_DP_CASE.format(u="u")} AS BIGINT) AS noise,
       CAST(greatest(n + {_DP_CASE.format(u="u")}, 0) AS BIGINT) AS noisy_n
FROM drawn
"""


# Mirror note: the Spark side filters `text IS NOT NULL`; the oracle's
# shared `s` CTE carries no text column, so it filters `logit IS NOT
# NULL` instead — equivalent, since the logit is NULL exactly when text
# is (every component NULLs through; non-NULL text yields a non-NULL
# logit via the greatest() guards).


# --- l-diversity audit --------------------------------------------------------

L_DIVERSITY = 3
#: sensitive-attribute coarsening: account balance in 1000-unit buckets
L_DIV_BUCKET = 1000


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the customer table: within each
    quasi-identifier equivalence class (market segment × nation — the
    k_anonymity_audit QI set), count the DISTINCT sensitive values
    (account balance coarsened to 1000-unit buckets) and flag classes
    below l = 3 — the attribute-disclosure companion of k-anonymity
    (a class can be k-large yet reveal everyone's balance band if all
    members share it).

    Exactness: the bucket is floor(balance / 1000) — one IEEE divide +
    floor, engine-identical — and everything else is exact counting.
    NULL balances carry no sensitive value and are ignored by
    count(DISTINCT) in both engines.

    Scale shape: one shuffle to QI classes (|segments|×|nations|
    bounded output); the distinct-count runs inside that aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / F.lit(float(L_DIV_BUCKET))).cast("long")
        ).cast("long").alias("n_sensitive"),
    )
    return classes.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "n_sensitive",
        F.when(F.col("n_sensitive") >= L_DIVERSITY, 1)
        .otherwise(0)
        .cast("long")
        .alias("meets_l"),
    )


L_DIVERSITY_SQL = f"""
SELECT c_mktsegment, c_nationkey,
       count(*)::BIGINT AS class_size,
       count(DISTINCT CAST(floor(c_acctbal / {float(L_DIV_BUCKET)}) AS BIGINT))::BIGINT
         AS n_sensitive,
       CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / {float(L_DIV_BUCKET)})
                                          AS BIGINT)) >= {L_DIVERSITY}
                 THEN 1 ELSE 0 END AS BIGINT) AS meets_l
FROM customer
GROUP BY 1, 2
"""


# --- overdispersion (index of dispersion) check -------------------------------


def overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion check per event type over purchase cents:
    D = s²/x̄ = (n·Σx² − S²) / ((n−1)·S), the variance-to-mean ratio
    that decides Poisson vs negative-binomial modeling (D ≈ 1 Poisson;
    D ≫ 1 overdispersed — use NB). The count-model diagnostic the
    anomaly/forecast family (rolling_zscore, seasonal_naive) assumes
    but never tests.

    Exactness: S and Q = Σx² are exact integer moments (Q accumulates
    in decimal(38,0) — cents² ≈ 10¹² per row leaves int64 past ~10⁶
    rows); the numerator n·Q − S² ≥ 0 by Cauchy-Schwarz, so the e6
    index is a NON-NEGATIVE integer division — Spark decimal div ==
    DuckDB HUGEINT // (the decision_stump_gini house rule). Degenerate
    groups (n < 2 or S = 0) emit a NULL index via CASE in both
    engines.

    Scale shape: one map-side moment aggregate to the |types|-row
    frame; nothing else."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    m = ev.select("event_type", cents("value").alias("_v")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_v")).alias("_q"),
    )
    return m.select(
        "event_type",
        F.col("_n").cast("long").alias("n_events"),
        F.col("_s").cast("long").alias("sum_cents"),
        F.expr(
            "CASE WHEN _n >= 2 AND _s > 0 THEN"
            " CAST(((_n * _q - CAST(_s AS DECIMAL(38,0)) * _s) * 1000000)"
            " div ((_n - 1) * CAST(_s AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("dispersion_e6"),
        F.expr(
            "CASE WHEN _n >= 2 AND _s > 0 THEN"
            " CASE WHEN ((_n * _q - CAST(_s AS DECIMAL(38,0)) * _s) * 1000000)"
            " div ((_n - 1) * CAST(_s AS DECIMAL(38,0))) > 1000000"
            " THEN 1 ELSE 0 END END"
        ).cast("long").alias("overdispersed"),
    )


OVERDISPERSION_SQL = f"""
WITH m AS (
  SELECT event_type, count(*) AS n,
         sum(v) AS s,
         sum(CAST(v AS HUGEINT) * v) AS q
  FROM (SELECT event_type, {CENTS_SQL.format(x="value")} AS v
        FROM events WHERE value IS NOT NULL AND value >= 0)
  GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS sum_cents,
       CASE WHEN n >= 2 AND s > 0 THEN
         CAST(((n * q - CAST(s AS HUGEINT) * s) * 1000000)
              // ((n - 1) * CAST(s AS HUGEINT)) AS BIGINT) END AS dispersion_e6,
       CAST(CASE WHEN n >= 2 AND s > 0 THEN
         CASE WHEN ((n * q - CAST(s AS HUGEINT) * s) * 1000000)
              // ((n - 1) * CAST(s AS HUGEINT)) > 1000000
              THEN 1 ELSE 0 END END AS BIGINT) AS overdispersed
FROM m
"""


# --- t-closeness audit ---------------------------------------------------------

#: TV distance (basis points) at or below which a class counts as close
T_CLOSENESS_BP = 2000
#: sensitive-attribute coarsening — same bucket as l_diversity_audit
T_CLOSE_BUCKET = 1000


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the customer table: within each
    quasi-identifier equivalence class (market segment × nation — the
    k_anonymity_audit QI set), the total-variation distance between
    the class's sensitive-value distribution (account balance in
    1000-unit buckets — the l_diversity_audit coarsening) and the
    GLOBAL distribution, in basis points; classes farther than
    t = 0.2 fail. Completes the privacy triad: a class can be k-large
    and l-diverse yet still leak (all its members sit in the extreme
    balance buckets) — only a distributional distance catches that.

    Exactness: with class size C, global size G, class bucket count
    c_v and global bucket count g_v, TV = Σ_v |c_v·G − g_v·C| /
    (2·C·G) — every numerator term is an exact integer product in
    decimal(38,0)/HUGEINT, and the absent-bucket tail Σ_{v∉class}
    g_v·C collapses algebraically to C·(G − Σ_{v∈class} g_v) (the
    source_unigram_tv precedent), so no dense bucket×class frame is
    materialized. tv_bp is ONE non-negative integer division.
    NULL balances / segments / nations are excluded by mirrored
    filters (a NULL bucket carries no sensitive value).

    Scale shape: one shuffle to (segment, nation, bucket) cells —
    bounded by |segments|·|nations|·|buckets| regardless of corpus
    size; the three windows (class total, global-bucket total, grand
    total) run on that bounded cell frame, which is the written
    justification for their partitioning."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
        & F.col("c_mktsegment").isNotNull()
        & F.col("c_nationkey").isNotNull()
    )
    cells = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(float(T_CLOSE_BUCKET)))
        .cast("long")
        .alias("_bkt"),
    ).agg(F.count(F.lit(1)).alias("_cv"))
    w_class = Window.partitionBy("c_mktsegment", "c_nationkey")
    w_bucket = Window.partitionBy("_bkt")
    w_all = Window.partitionBy()
    cells2 = cells.select(
        "c_mktsegment",
        "c_nationkey",
        "_cv",
        F.sum("_cv").over(w_class).alias("_C"),
        F.sum("_cv").over(w_bucket).alias("_gv"),
        F.sum("_cv").over(w_all).alias("_G"),
    )
    per_class = cells2.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("_C").alias("_C"),
        F.max("_G").alias("_G"),
        F.sum(
            F.abs(
                F.col("_cv").cast("decimal(38,0)") * F.col("_G")
                - F.col("_gv").cast("decimal(38,0)") * F.col("_C")
            )
        ).alias("_num_present"),
        F.sum("_gv").alias("_gsum"),
    )
    tv_bp = F.expr(
        "CAST((10000 * (_num_present"
        " + CAST(_C AS DECIMAL(38,0)) * (_G - _gsum)))"
        " div (2 * CAST(_C AS DECIMAL(38,0)) * _G) AS BIGINT)"
    )
    return per_class.select(
        "c_mktsegment",
        "c_nationkey",
        F.col("_C").cast("long").alias("class_size"),
        tv_bp.alias("tv_bp"),
        F.when(tv_bp <= T_CLOSENESS_BP, 1).otherwise(0).cast("long").alias("meets_t"),
    )


T_CLOSENESS_SQL = f"""
WITH cells AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / {float(T_CLOSE_BUCKET)}) AS BIGINT) AS bkt,
         count(*) AS cv
  FROM customer
  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
        AND c_nationkey IS NOT NULL
  GROUP BY 1, 2, 3
),
w AS (
  SELECT c_mktsegment, c_nationkey, cv,
         sum(cv) OVER (PARTITION BY c_mktsegment, c_nationkey) AS C,
         sum(cv) OVER (PARTITION BY bkt) AS gv,
         sum(cv) OVER () AS G
  FROM cells
),
per_class AS (
  SELECT c_mktsegment, c_nationkey,
         max(C) AS C, max(G) AS G,
         sum(abs(CAST(cv AS HUGEINT) * G - CAST(gv AS HUGEINT) * C))
           AS num_present,
         sum(gv) AS gsum
  FROM w GROUP BY 1, 2
)
SELECT c_mktsegment, c_nationkey,
       CAST(C AS BIGINT) AS class_size,
       CAST((10000 * (num_present + CAST(C AS HUGEINT) * (G - gsum)))
            // (2 * CAST(C AS HUGEINT) * G) AS BIGINT) AS tv_bp,
       CAST(CASE WHEN (10000 * (num_present + CAST(C AS HUGEINT) * (G - gsum)))
                      // (2 * CAST(C AS HUGEINT) * G) <= {T_CLOSENESS_BP}
                 THEN 1 ELSE 0 END AS BIGINT) AS meets_t
FROM per_class
"""
