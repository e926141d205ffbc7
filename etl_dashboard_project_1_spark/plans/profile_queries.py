"""Dataset profiling & correlation analytics:

- one-pass numeric column profiler (the DQ summary a pipeline runs
  before trusting a new drop),
- per-nation revenue trend via built-in linear regression aggregates,
- event-type co-occurrence lift (market-basket association on user
  behavior),
- day-of-week × hour activity heatmap,
- deterministic training-shard manifest (md5-bucketed, rerun-stable).

All single-pass Catalyst aggregations; the profiler computes every
column's stats in ONE scan (stack/unpivot after the aggregate, never
one scan per column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import derive
from ..operators.sampling import hash_bucket
from ..session import fan_out, load_table

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
