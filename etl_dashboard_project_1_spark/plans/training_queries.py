"""Training-data pipeline: the data-ordering / mixture / split-planning
operations that sit between a curated corpus and a training run, and the
evaluation of the shared quality classifier (decile lift, threshold
sweep, isotonic calibration, ECE, Brier decomposition, per-fold scores,
decision stump).

- deterministic multi-epoch shuffle order (the reproducible "data
  order" manifest a trainer consumes — seeded hash permutation, global
  positions WITHOUT a single-partition sort),
- cross-source duplication matrix (which sources copy from each other —
  the report that decides crawl-overlap policy),
- candidate-pair cosine histogram (the threshold-sweep evidence for
  picking an embedding near-dup cut-off BEFORE running the dedup),
- mixture epoch plan (per-source repeat factors / epochs needed to hit
  a token budget under target mixture weights),
- stratified k-fold assignment audit (hash-deterministic folds with the
  per-language balance matrix),
- minhash banding recall curve vs exact ground truth (the dedup QA
  loop),
- quality-tier token inventory (corpus quartiles → per-source "data
  diet" planning),
- temporal train/valid split with embargo (leakage-safe for
  time-correlated data).

All pure DataFrame plans over the md5 wheel (cross-engine-exact
"randomness"); every aggregate that feeds a comparison is integer
arithmetic (x100 / x10000 / bp scalings) past at most one house-standard
``floor(x * 10^k + 0.5)`` rounding of a float input, so the oracles
hash-match without float tolerance.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, layout, sampling, vector
from ..operators.derive import CENTS_SQL, cents
from ..operators.sampling import hash_bucket
from ..session import fan_out, load_table
from .experiment_queries import GSQ_CONV_MIN as BRIER_CONV_MIN
from .extension_queries import (
    EMB_BANDS_SQL,
    JACCARD_CTE,
    TEXT_QUALITY_SQL,
    quality_logit,
    ratio_sql,
    text_quality,
)

MD5_BIGINT = "(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"

EPOCHS = 2
EPOCH_TOPN = 500  # manifest rows emitted per epoch (bounds the report)


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training order: each epoch permutes the
    corpus by md5(epoch:doc_id) and assigns global positions — the
    manifest a data loader replays for bit-reproducible training runs
    (epoch seeds decorrelate the orders; re-running yields the same
    bytes in the same order on any cluster size).

    Scale shape: positions come from ``layout.dense_ids_by`` (range
    partition on the hash key + per-partition rank + O(partitions)
    offset carry) — a total order with NO single-partition window; one
    such job per epoch. The manifest is truncated to the first
    EPOCH_TOPN positions per epoch to keep the report bounded."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    parts = []
    for ep in range(EPOCHS):
        keyed = docs.select(
            F.lit(ep).cast("int").alias("epoch"),
            "doc_id",
            dedup.md5_int(
                F.concat(F.lit(f"{ep}:"), F.col("doc_id").cast("string"))
            ).alias("_k"),
        )
        ranked = layout.dense_ids_by(keyed, ["_k", "doc_id"], id_name="position")
        parts.append(
            ranked.filter(F.col("position") <= EPOCH_TOPN).select(
                "epoch", "position", "doc_id"
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_EPOCH_KEY = MD5_BIGINT.format(expr="e.epoch::VARCHAR || ':' || doc_id::VARCHAR")

# epoch list generated from EPOCHS so the oracle can never drift from the
# Spark loop when the constant changes
_EPOCH_LIST = " UNION ALL ".join(f"SELECT {ep} AS epoch" for ep in range(EPOCHS))

EPOCH_SHUFFLE_SQL = f"""
SELECT epoch, position, doc_id FROM (
  SELECT e.epoch, doc_id,
         CAST(row_number() OVER (
           PARTITION BY e.epoch ORDER BY {_EPOCH_KEY}, doc_id
         ) AS BIGINT) AS position
  FROM documents CROSS JOIN ({_EPOCH_LIST}) e
)
WHERE position <= {EPOCH_TOPN}
"""


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (word-3-gram
    Jaccard ≥ 0.2, the PPJoin-filtered pair generator) attributed to the
    unordered pair of their documents' sources — the report that tells a
    crawl which feeds duplicate each other (and how strongly) before any
    removal policy is chosen.

    Scale shape: all heavy lifting is the existing bounded-block pair
    join; attaching two source labels is a pair-sized join against the
    (doc_id, source) projection, and the matrix is |sources|²-bounded.
    avg jaccard is an exact integer mean (sum of per-pair x10000
    roundings DIV count) — no float aggregate crosses the oracle."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.2, reuse="checkpoint"
    )
    src = docs.select("doc_id", "source")
    attributed = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")), "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("long").alias("_jx"),
        )
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("_jx").alias("_sj"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.expr("_sj DIV n_pairs").alias("avg_jaccard_x10000"),
        )
    )


DEDUP_SOURCE_MATRIX_SQL = (
    JACCARD_CTE
    + """
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)) // count(*) AS BIGINT)
         AS avg_jaccard_x10000
FROM jac
JOIN documents da ON jac.id_a = da.doc_id
JOIN documents db ON jac.id_b = db.doc_id
WHERE jaccard >= 0.2
GROUP BY 1, 2
"""
)


def emb_pair_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep evidence for embedding near-dup: the cosine
    histogram (0.05-wide bins, lower bound x100) over ALL banded-LSH
    candidate pairs — one pass answers "how many pairs would each
    cut-off keep?" so the dedup threshold is chosen from data, not
    guessed. Same candidate generator (and cost) as the registered
    near-dup query; only the post-cosine filter differs, and the output
    is bin-bounded (cosine ∈ [-1, 1] at 0.05 width → at most 41 bins at
    any corpus size).

    Binning is integer-exact past the ONE house-standard float step:
    cosine rounds once via floor(c*10000 + 0.5) — the same boundary
    class as every portable_round in the repo and the near-dup ≥ 0.4
    threshold, swept at two SFs — then the bin index is pure
    non-negative integer division (shifted by +10000 first to keep the
    dividend non-negative; measured r9: both engines truncate toward
    zero, so the shift is a portability convention, not a divergence
    fix)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    pairs = vector.cosine_pairs_blocked(
        emb, "vec_id", "embedding", threshold=-2.0, num_planes=32, band_size=4
    )
    cx = F.floor(F.col("cosine") * 10000 + F.lit(0.5)).cast("long")
    return (
        pairs.select(
            (((cx + 10000) / 500).cast("long") * 5 - 100).alias("bin_lo_x100")
        )
        .groupBy("bin_lo_x100")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


EMB_PAIR_COSINE_HIST_SQL = f"""
WITH bands AS (
{EMB_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a._band = b._band AND a._bucket = b._bucket AND a.vec_id < b.vec_id
),
cos AS (
  SELECT list_sum(list_transform(range(1, len(ea.embedding) + 1),
           i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE))))
           AS c
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.id_a
  JOIN embeddings eb ON eb.vec_id = cand.id_b
)
SELECT CAST((CAST(floor(c * 10000 + 0.5) AS BIGINT) + 10000) // 500 * 5 - 100
            AS BIGINT) AS bin_lo_x100,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cos GROUP BY 1
"""


TOKEN_BUDGET = 5_000_000
MIX_WEIGHTS_BP = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}


def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning: given target mixture weights (basis points of a
    token budget) for chosen sources, compute each source's available
    tokens, its target token count, the repeat factor (x100) and the
    whole epochs needed — the arithmetic that decides how many times a
    small high-weight slice (books-like) repeats against one pass of a
    large slice. Pure integer outputs, so the plan is engine-exact.

    Scale shape: one scan reduces the corpus to per-source token sums
    (|sources| rows); the weight table is config-sized and broadcast."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    avail = (
        docs.select(
            "source",
            F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("_t"),
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_t").alias("available_tokens"))
    )
    w = spark.createDataFrame(
        [(s, wbp) for s, wbp in MIX_WEIGHTS_BP.items()], ["source", "weight_bp"]
    )
    return (
        avail.join(F.broadcast(w), "source")
        .withColumn(
            "target_tokens", F.expr(f"({TOKEN_BUDGET} * weight_bp) DIV 10000")
        )
        .select(
            "source",
            "n_docs",
            "available_tokens",
            "weight_bp",
            "target_tokens",
            F.expr("(target_tokens * 100) DIV available_tokens").alias("repeats_x100"),
            F.expr(
                "(target_tokens + available_tokens - 1) DIV available_tokens"
            ).alias("epochs_needed"),
        )
    )


_MIX_VALUES = ", ".join(
    f"('{s}', {w}::BIGINT)" for s, w in MIX_WEIGHTS_BP.items()
)

MIXTURE_EPOCH_PLAN_SQL = f"""
WITH w(source, weight_bp) AS (VALUES {_MIX_VALUES}),
a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT)
           AS available_tokens
  FROM documents GROUP BY 1
)
SELECT a.source, n_docs, available_tokens, weight_bp,
       ({TOKEN_BUDGET} * weight_bp) // 10000 AS target_tokens,
       (({TOKEN_BUDGET} * weight_bp) // 10000 * 100) // available_tokens
         AS repeats_x100,
       (({TOKEN_BUDGET} * weight_bp) // 10000 + available_tokens - 1)
         // available_tokens AS epochs_needed
FROM a JOIN w USING (source)
"""


KFOLDS = 5


def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold assignment audit: folds come from the md5 wheel (stable
    under data growth — a document's fold never changes when others
    arrive, the property cross-validation at corpus scale needs), and
    the report is the per-language balance matrix: docs per (lang,
    fold) and each fold's share of its language in basis points — the
    check that hash folding didn't skew any stratum.

    Scale shape: fold assignment is map-only; one groupBy to the
    |langs|x|folds|-bounded matrix; the share window runs on that
    bounded table, not the corpus."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    cells = (
        docs.select(
            "lang", (hash_bucket(F.col("doc_id"), "kfold", KFOLDS)).alias("fold")
        )
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "fold",
        "n_docs",
        F.expr("n_docs * 10000").cast("long").alias("_num"),
        F.sum("n_docs").over(w).alias("_tot"),
    ).select(
        "lang", "fold", "n_docs", F.expr("_num DIV _tot").alias("share_bp")
    )


_KFOLD_HASH = MD5_BIGINT.format(expr="doc_id::VARCHAR || 'kfold'")

STRATIFIED_KFOLD_SQL = f"""
SELECT lang, fold, n_docs,
       CAST(n_docs * 10000 // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS share_bp
FROM (
  SELECT lang, {_KFOLD_HASH} % {KFOLDS} AS fold,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
)
"""


# --- minhash banding recall eval --------------------------------------------

def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA loop for the dedup family (the analog of ``ann_recall_eval``
    for ANN): per Jaccard bucket (0.1-wide, lower bound x100), how many
    TRUE near-dup pairs exist (exact all-pairs ground truth at t=0.2)
    and how many the banded minhash pipeline catches — the measured
    recall curve that justifies the (num_hashes=8, band_size=2) banding
    config instead of asserting it. Everything is deterministic, so the
    whole evaluation hash-matches the oracle.

    Scale note: the exact all-pairs ground truth is the expensive side
    and exists FOR the eval (run on a sample at corpus scale); the
    production path stays the banded pipeline being evaluated."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.2, method="allpairs"
    ).select(
        "id_a", "id_b",
        F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("long").alias("_jx"),
    )
    caught = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2,
        threshold=0.2,
    ).select("id_a", "id_b", F.lit(1).alias("_c"))
    j = truth.join(caught, ["id_a", "id_b"], "left").select(
        (F.expr("_jx DIV 1000") * 10).alias("bucket_lo_x100"),
        F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
    )
    return (
        j.groupBy("bucket_lo_x100")
        .agg(F.count(F.lit(1)).alias("n_true"), F.sum("_c").cast("long").alias("n_caught"))
        .select(
            "bucket_lo_x100", "n_true", "n_caught",
            F.expr("n_caught * 10000 DIV n_true").alias("recall_bp"),
        )
    )


DEDUP_MINHASH_RECALL_SQL = (
    "WITH "
    + JACCARD_CTE[len("WITH ") :]
    + r""",
params AS (
  SELECT i,
         ((('0x' || substr(md5(i::VARCHAR), 1, 8))::BIGINT % 1073741824) | 1) AS a,
         (7919 * i + 13)::BIGINT AS b
  FROM range(8) t(i)
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hs FROM sh
),
sig AS (
  SELECT doc_id, i, min((a * hs + b) % 4294967311) AS m
  FROM hashed, params GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 2 AS band,
         md5(string_agg(m::VARCHAR, ',' ORDER BY i)) AS bh
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
truth AS (
  SELECT id_a, id_b, CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS jx
  FROM jac WHERE jaccard >= 0.2
)
SELECT CAST(jx // 1000 * 10 AS BIGINT) AS bucket_lo_x100,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS recall_bp
FROM truth t LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
GROUP BY 1
"""
)


# --- quality-tier token inventory -------------------------------------------

def quality_tier_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "data diet" planning report: corpus-wide quality quartiles
    (percentile_disc over the x10000 integer quality score from
    ``text_quality``) and, per (source, tier), the documents and tokens
    available — what a mixture designer consults before setting
    per-quality sampling rates.

    Scale shape: ONE corpus scan reduces to a (source, score) histogram
    carrying token sums (bounded by |sources| x 10001 score values);
    the global cumulative window, the quartile thresholds, and the
    inventory aggregate all run on that compressed table. The global
    window orders ≤10k histogram rows — bounded by the score space,
    never row count."""
    q = text_quality(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("quality") * 10000 + F.lit(0.5)).cast("long").alias("_qx"),
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    hb = (
        q.join(src, "doc_id")
        .groupBy("source", "_qx")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("n_tokens").alias("_toks"))
        .localCheckpoint(eager=False)
    )
    g = hb.groupBy("_qx").agg(F.sum("_n").alias("_c"))
    wcum = Window.orderBy("_qx")
    cum = g.select(
        "_qx",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(Window.partitionBy()).alias("_tot"),
    )
    th = cum.agg(
        F.min(F.when(F.col("_cum") >= F.expr("(_tot + 3) DIV 4"), F.col("_qx"))).alias("t25"),
        F.min(F.when(F.col("_cum") >= F.expr("(_tot + 1) DIV 2"), F.col("_qx"))).alias("t50"),
        F.min(F.when(F.col("_cum") >= F.expr("(3 * _tot + 3) DIV 4"), F.col("_qx"))).alias("t75"),
    )
    tier = (
        F.when(F.col("_qx") <= F.col("t25"), F.lit("q1_low"))
        .when(F.col("_qx") <= F.col("t50"), F.lit("q2"))
        .when(F.col("_qx") <= F.col("t75"), F.lit("q3"))
        .otherwise(F.lit("q4_high"))
    )
    return (
        hb.crossJoin(F.broadcast(th))
        .select("source", tier.alias("tier"), "_n", "_toks")
        .groupBy("source", "tier")
        .agg(F.sum("_n").alias("n_docs"), F.sum("_toks").alias("n_tokens"))
    )


def _quality_tier_sql() -> str:
    return f"""
WITH q AS ({TEXT_QUALITY_SQL}),
base AS (
  SELECT d.source, CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS qx, q.n_tokens
  FROM q JOIN documents d USING (doc_id)
),
hb AS (
  SELECT source, qx, count(*) AS n, sum(n_tokens) AS toks
  FROM base GROUP BY 1, 2
),
cum AS (
  SELECT qx, sum(n) OVER (ORDER BY qx) AS c, sum(n) OVER () AS tot
  FROM (SELECT qx, sum(n) AS n FROM hb GROUP BY 1)
),
th AS (
  SELECT min(CASE WHEN c >= (tot + 3) // 4 THEN qx END) AS t25,
         min(CASE WHEN c >= (tot + 1) // 2 THEN qx END) AS t50,
         min(CASE WHEN c >= (3 * tot + 3) // 4 THEN qx END) AS t75
  FROM cum
)
SELECT source,
       CASE WHEN qx <= t25 THEN 'q1_low' WHEN qx <= t50 THEN 'q2'
            WHEN qx <= t75 THEN 'q3' ELSE 'q4_high' END AS tier,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens
FROM hb CROSS JOIN th
GROUP BY 1, 2
"""


QUALITY_TIER_SQL = _quality_tier_sql()


# --- temporal split with embargo --------------------------------------------

SPLIT_DATE = "2024-01-20"
EMBARGO_DAYS = 2


def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/valid split with an embargo gap — the
    leakage-safe split for temporally-correlated data (hash splits leak
    future information into training when rows near the boundary share
    latent state): train = events strictly before SPLIT_DATE, valid =
    events at/after SPLIT_DATE + EMBARGO_DAYS, the embargo window
    dropped entirely. The report carries per-split row/user counts plus
    the user overlap between splits — non-zero overlap is EXPECTED here
    (the same user may act in both periods) and is exactly the number a
    leakage-sensitive design (group-disjoint split, see
    ``split_group_disjoint``) would drive to zero.

    Scale shape: map-side split labels, one groupBy for counts, one
    distinct-users join (both sides user-cardinality-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        F.when(F.col("ts") < F.lit(SPLIT_DATE).cast("timestamp"), "train")
        .when(
            F.col("ts")
            >= F.expr(f"timestamp'{SPLIT_DATE}' + INTERVAL {EMBARGO_DAYS} DAYS"),
            "valid",
        )
        .otherwise("embargo")
        .alias("split"),
        "user_id",
    )
    counts = lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tr = lab.filter(F.col("split") == "train").select("user_id").distinct()
    va = lab.filter(F.col("split") == "valid").select("user_id").distinct()
    overlap = tr.join(va, "user_id").agg(
        F.count(F.lit(1)).alias("n_overlap_users")
    )
    return counts.crossJoin(F.broadcast(overlap))


SPLIT_TEMPORAL_SQL = f"""
WITH lab AS (
  SELECT CASE WHEN ts < TIMESTAMP '{SPLIT_DATE}' THEN 'train'
              WHEN ts >= TIMESTAMP '{SPLIT_DATE}' + INTERVAL {EMBARGO_DAYS} DAY
                THEN 'valid'
              ELSE 'embargo' END AS split,
         user_id
  FROM events
),
ov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_overlap_users FROM (
    SELECT user_id FROM lab WHERE split = 'train'
    INTERSECT
    SELECT user_id FROM lab WHERE split = 'valid'
  )
)
SELECT split, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       n_overlap_users
FROM lab CROSS JOIN ov
GROUP BY 1, 4
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


# --- leave-one-out target encoding -------------------------------------------

def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against order value: each order's encoded feature is the mean order
    value (cents) of its segment EXCLUDING the order itself — the
    standard leakage-free categorical encoder for tree/linear models
    (a plain segment mean would leak each row's own target into its
    feature; LOO is what production feature stores actually ship).

    Exactness: loo = (seg_sum − own) // (seg_n − 1) — non-negative
    integer division, identical in both engines; NULL when the segment
    has a single order (no leave-one-out population exists).

    Scale shape: one orders⋈customer equi-join (customer is the smaller
    relation; at warehouse scale this is the fact→dim join AQE plans as
    broadcast when the dim fits), one |segments|-row aggregate that IS
    broadcast, and a map-side re-join — the per-row encoding never
    shuffles the fact table a second time."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    fact = orders.select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("own_cents"),
    ).join(cust, F.col("o_custkey") == F.col("c_custkey"))
    stats = fact.groupBy("segment").agg(
        F.sum("own_cents").alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    return (
        fact.join(F.broadcast(stats), "segment")
        .select(
            "o_orderkey",
            "segment",
            "own_cents",
            F.when(
                F.col("seg_n") > 1,
                F.expr("(seg_sum - own_cents) div (seg_n - 1)"),
            )
            .cast("long")
            .alias("loo_cents"),
        )
    )


TARGET_ENCODE_SQL = f"""
WITH fact AS (
  SELECT o_orderkey,
         c_mktsegment AS segment,
         {CENTS_SQL.format(x="o_totalprice")} AS own_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
stats AS (
  SELECT segment, sum(own_cents) AS seg_sum, count(*) AS seg_n
  FROM fact GROUP BY 1
)
SELECT o_orderkey,
       f.segment,
       own_cents,
       CAST(CASE WHEN seg_n > 1
                 THEN (seg_sum - own_cents) // (seg_n - 1)
            END AS BIGINT) AS loo_cents
FROM fact f JOIN stats s ON f.segment = s.segment
"""


# --- quality-score decile lift / calibration table ---------------------------

#: shared quality-logit feature CTEs — the DuckDB twin of
#: extension_queries.quality_logit, the model quality_logit_inference /
#: quality_logit_auc execute; the label is lang=='en', as in the AUC gate.
def _logit_ctes() -> str:
    from ..operators import textops

    return rf"""
t AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
         length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[^a-zA-Z0-9]', '', 'g')) AS n_alnum,
         list_sum(list_transform(regexp_split_to_array(lower(text), '\s+'), w -> length(w))) AS sum_wlen,
         len(regexp_split_to_array(lower(text), '\s+')) AS n_tok_raw,
         {ratio_sql(textops.LANG_PROFILES["en"])} AS stop_r
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         2.0 * least(n_tokens / 200.0, 1.0)
         - 6.0 * ((n_nonws - n_alnum) / greatest(n_nonws, 1)::DOUBLE)
         + 10.0 * stop_r
         - 0.2 * (sum_wlen / greatest(n_tok_raw, 1)::DOUBLE)
         - 0.3 AS logit
  FROM t
)"""


def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / calibration table for the fused quality classifier —
    the model-eval companion AUC can't provide: AUC says the ranking is
    good overall; the lift table says WHICH score band to ship (decile 1
    = top scores; per decile the observed positive rate, lift over base
    rate, and cumulative capture of all positives).

    Exactness: the sort key is the e4-integer-scaled logit (floor form)
    with a doc_id tiebreak, so the total order is bit-stable; decile
    assignment, rates, lift and capture are all non-negative integer
    divisions in basis points.

    Scale shape: the global rank comes from ``layout.dense_ids_by``
    (range partition + per-partition rank + O(partitions) offset carry —
    NO single-partition sort); the grand totals attach as a broadcast
    1-row frame; every downstream window runs on the 10-row decile
    frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        F.floor(quality_logit() * 10000 + F.lit(0.5)).cast("long").alias("_s_e4"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    keyed = scored.withColumn("_nk", -F.col("_s_e4"))
    ranked = layout.dense_ids_by(keyed, ["_nk", "doc_id"], id_name="_rank")
    totals = scored.agg(
        F.count(F.lit(1)).cast("long").alias("_n_total"),
        F.sum("_y").cast("long").alias("_p_total"),
    )
    dec = ranked.crossJoin(F.broadcast(totals)).select(
        F.expr("((_rank - 1) * 10) div _n_total + 1").cast("long").alias("decile"),
        "_y",
        "_n_total",
        "_p_total",
    )
    per = dec.groupBy("decile", "_n_total", "_p_total").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.withColumn("_cum_pos", F.sum("n_pos").over(w))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            F.expr("(n_pos * 10000) div n_docs").cast("long").alias("pos_rate_bp"),
            # a corpus with zero positives (tiny-sweep class) leaves
            # lift/capture undefined — -1 sentinel, mirrored
            F.expr(
                "CASE WHEN _p_total > 0 THEN"
                " (n_pos * _n_total * 10000) div (n_docs * _p_total)"
                " ELSE -1 END"
            )
            .cast("long")
            .alias("lift_bp"),
            F.expr(
                "CASE WHEN _p_total > 0 THEN (_cum_pos * 10000) div _p_total"
                " ELSE -1 END"
            )
            .cast("long")
            .alias("cum_capture_bp"),
        )
    )


DECILE_LIFT_SQL = f"""
WITH {_logit_ctes()},
sc AS (
  SELECT doc_id,
         CAST(floor(logit * 10000 + 0.5) AS BIGINT) AS s_e4,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM s
),
r AS (
  SELECT doc_id, y,
         CAST(row_number() OVER (ORDER BY -s_e4 ASC, doc_id ASC) AS BIGINT) AS rnk
  FROM sc
),
tot AS (SELECT count(*)::BIGINT AS n_total, sum(y)::BIGINT AS p_total FROM sc),
d AS (SELECT ((rnk - 1) * 10) // n_total + 1 AS decile, y, n_total, p_total
      FROM r, tot),
per AS (
  SELECT decile, n_total, p_total,
         count(*)::BIGINT AS n_docs, sum(y)::BIGINT AS n_pos
  FROM d GROUP BY 1, 2, 3
)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
       (n_pos * 10000) // n_docs AS pos_rate_bp,
       CASE WHEN p_total > 0
            THEN (n_pos * n_total * 10000) // (n_docs * p_total)
            ELSE -1 END AS lift_bp,
       CAST(CASE WHEN p_total > 0
            THEN (sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000) // p_total
            ELSE -1 END AS BIGINT) AS cum_capture_bp
FROM per
"""


# --- precision/recall threshold sweep ----------------------------------------

#: decision-threshold grid in e2-scaled logit units (-1.0 .. 2.0); one
#: Python constant interpolated into both engines.
PR_THRESHOLDS_E2 = [-100, -50, 0, 50, 100, 150, 200]


def threshold_sweep_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep of the quality classifier over a fixed
    decision-threshold grid — the operating-point table a release gate
    reads next to the AUC (AUC is threshold-free; shipping needs ONE
    threshold, chosen from exactly this sweep).

    Exactness: scores quantize to the e2-integer bucket (the AUC gate's
    bucketing); confusion counts are integer sums over (bucket ≥ t);
    precision/recall/F1 are basis-point integer divisions, F1 computed
    from the bp precision/recall pair, NULL when the denominator is
    empty.

    Scale shape: one corpus groupBy to the score-range-bounded histogram;
    the 7-threshold grid attaches to that bounded frame with a broadcast
    nested-loop (config-sized side, the house scalar-subquery form) —
    the corpus is scanned ONCE for all thresholds."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hist = (
        docs.select(
            F.floor(quality_logit() * 100 + F.lit(0.5)).cast("long").alias("_b"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_y").cast("long").alias("_pos"),
            F.sum(1 - F.col("_y")).cast("long").alias("_neg"),
        )
    )
    grid = spark.range(len(PR_THRESHOLDS_E2)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in PR_THRESHOLDS_E2]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("threshold_e2")
    )
    conf = (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("threshold_e2")
        .agg(
            F.sum(F.when(F.col("_b") >= F.col("threshold_e2"), F.col("_pos")).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(F.col("_b") >= F.col("threshold_e2"), F.col("_neg")).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(F.col("_b") < F.col("threshold_e2"), F.col("_pos")).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(F.col("_b") < F.col("threshold_e2"), F.col("_neg")).otherwise(0)).cast("long").alias("tn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.expr("(tp * 10000) div (tp + fp)"))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.expr("(tp * 10000) div (tp + fn)"))
    out = conf.withColumn("precision_bp", prec.cast("long")).withColumn(
        "recall_bp", rec.cast("long")
    )
    f1 = F.when(
        F.col("precision_bp") + F.col("recall_bp") > 0,
        F.expr("(2 * precision_bp * recall_bp) div (precision_bp + recall_bp)"),
    )
    return out.withColumn("f1_bp", f1.cast("long"))


_PR_GRID_SQL = " UNION ALL ".join(
    f"SELECT CAST({t} AS BIGINT) AS threshold_e2" for t in PR_THRESHOLDS_E2
)

THRESHOLD_SWEEP_SQL = f"""
WITH {_logit_ctes()},
h AS (
  SELECT CAST(floor(logit * 100 + 0.5) AS BIGINT) AS b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS neg
  FROM s GROUP BY 1
),
g AS ({_PR_GRID_SQL}),
conf AS (
  SELECT threshold_e2,
         sum(CASE WHEN b >= threshold_e2 THEN pos ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN b >= threshold_e2 THEN neg ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN b < threshold_e2 THEN pos ELSE 0 END)::BIGINT AS fn,
         sum(CASE WHEN b < threshold_e2 THEN neg ELSE 0 END)::BIGINT AS tn
  FROM h, g GROUP BY 1
),
rates AS (
  SELECT *,
         CASE WHEN tp + fp > 0 THEN (tp * 10000) // (tp + fp) END AS precision_bp,
         CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn) END AS recall_bp
  FROM conf
)
SELECT threshold_e2, tp, fp, fn, tn, precision_bp, recall_bp,
       CASE WHEN precision_bp + recall_bp > 0
            THEN (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
       END AS f1_bp
FROM rates
"""


# --- inverse-frequency class weights ------------------------------------------

CLASS_WEIGHT_CAP_PPM = 10_000_000  #: cap at 10x (guards tiny classes)


def class_weight_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language inverse-frequency loss weights for the document
    corpus — sklearn's "balanced" formula w_c = N/(K·n_c) in exact ppm
    integer form, capped at 10× so a near-empty class can't dominate the
    loss. The loss-side counterpart of the sampling-side mixture ops
    (mixture_epoch_plan / quota_largest_remainder reweight what's DRAWN;
    this reweights what's PENALIZED).

    Exactness: weights are (N·1e6) div (K·n_c) — non-negative integer
    division; share in basis points likewise.

    Scale shape: one groupBy to the |langs|-row frame; totals attach via
    an unpartitioned window over that domain-bounded frame (the house
    bounded-aggregate-window form) — the corpus shuffles once."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = per.withColumn("_tot", F.sum("_n").over(w_all)).withColumn(
        "_k", F.count(F.lit(1)).over(w_all)
    )
    return tot.select(
        "lang",
        F.col("_n").cast("long").alias("n_docs"),
        F.expr("(_n * 10000) div _tot").cast("long").alias("share_bp"),
        F.expr("(_tot * 1000000) div (_k * _n)").cast("long").alias("weight_ppm"),
        F.least(
            F.expr("(_tot * 1000000) div (_k * _n)"), F.lit(CLASS_WEIGHT_CAP_PPM)
        )
        .cast("long")
        .alias("capped_ppm"),
    )


CLASS_WEIGHT_SQL = f"""
WITH per AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
tot AS (
  SELECT lang, n, sum(n) OVER () AS t, count(*) OVER () AS k FROM per
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST((n * 10000) // t AS BIGINT) AS share_bp,
       CAST((t * 1000000) // (k * n) AS BIGINT) AS weight_ppm,
       CAST(least((t * 1000000) // (k * n), {CLASS_WEIGHT_CAP_PPM}) AS BIGINT)
         AS capped_ppm
FROM tot
"""


# --- isotonic calibration (pool-adjacent-violators) ---------------------------

#: score grid clamp in e2 logit units — bounds the PAV problem size to
#: at most 601 bins regardless of data volume (the logit is a bounded
#: feature combination; the clamp only bites on pathological text).
PAV_CLAMP_E2 = 300


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration curve for the shared quality-logit model:
    per observed e2 score bin, the raw empirical P(lang='en') and the
    PAV (pool-adjacent-violators) isotonic fit — the standard
    post-training score→probability calibrator (Platt's monotone-free
    cousin). decile lift answers "which band to ship"; this answers
    "what probability does a score MEAN".

    Exactness: PAV is computed from the closed max-min form
    fit_i = max_{j<=i} min_{k>=i... j<=k} mean(y over bins j..k) —
    evaluated entirely in integer arithmetic. Each interval mean is
    floored to ppm via non-negative integer division; floor is monotone
    non-decreasing, so it COMMUTES with min and max — the emitted value
    is exactly floor(true_PAV_fit * 1e6), bit-identical in both
    engines, no iterative pooling loop needed.

    Scale shape: the corpus collapses to a <=601-row bin frame in one
    groupBy; everything after (cumsums, the j<=k interval enumeration
    via explode(sequence) + ONE broadcast equi-join — never a
    nested-loop — and the min/max windows) runs on grid-bounded frames,
    so the unpartitioned windows are config-sized by construction.
    At extreme corpus sizes (N above ~9e12 docs) the ppm numerator
    would leave int64; margins move to decimal(38) then — irrelevant at
    any tested or plausible scale."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(quality_logit() * 100 + F.lit(0.5)).cast("long"),
                F.lit(PAV_CLAMP_E2),
            ),
            F.lit(-PAV_CLAMP_E2),
        ).alias("bin_e2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    per = b.groupBy("bin_e2").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # <=601 rows from here on — the unpartitioned windows are grid-bounded.
    # asc_nulls_last pins Spark to DuckDB's NULLS LAST default: bin_e2 is
    # non-NULL today (text stays non-NULL per the sweep contract), but the
    # parity guarantee must not depend on that undocumented assumption.
    w_cum = Window.orderBy(F.asc_nulls_last("bin_e2")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pre = per.select(
        "bin_e2",
        "_n",
        "_p",
        F.row_number().over(Window.orderBy(F.asc_nulls_last("bin_e2"))).alias("_i"),
        F.sum("_n").over(w_cum).alias("_sn"),
        F.sum("_p").over(w_cum).alias("_sp"),
    ).withColumn("_m", F.max("_i").over(w_all))
    pairs = pre.select(
        F.col("_i").alias("_j"),
        (F.col("_sn") - F.col("_n")).alias("_snp"),
        (F.col("_sp") - F.col("_p")).alias("_spp"),
        F.explode(F.sequence(F.col("_i"), F.col("_m"))).alias("_k"),
    )
    right = pre.select(
        F.col("_i").alias("_k"),
        F.col("_sn").alias("_snk"),
        F.col("_sp").alias("_spk"),
    )
    mj = (
        pairs.join(F.broadcast(right), "_k")
        .groupBy("_j")
        .agg(
            F.min(F.expr("((_spk - _spp) * 1000000) div (_snk - _snp)")).alias("_mj")
        )
    )
    w_fit = Window.orderBy("_j").rowsBetween(Window.unboundedPreceding, 0)
    fit = mj.select(F.col("_j").alias("_i"), F.max("_mj").over(w_fit).alias("_f"))
    return pre.join(F.broadcast(fit), "_i").select(
        "bin_e2",
        F.col("_n").cast("long").alias("n_docs"),
        F.col("_p").cast("long").alias("n_pos"),
        F.expr("(_p * 1000000) div _n").cast("long").alias("raw_ppm"),
        F.col("_f").cast("long").alias("fit_ppm"),
    )


ISOTONIC_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 100 + 0.5) AS BIGINT),
                        {PAV_CLAMP_E2}), -{PAV_CLAMP_E2}) AS bin_e2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s
),
per AS (SELECT bin_e2, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        FROM bb GROUP BY 1),
pre AS (
  SELECT bin_e2, n, p,
         row_number() OVER (ORDER BY bin_e2) AS i,
         sum(n) OVER (ORDER BY bin_e2) AS sn,
         sum(p) OVER (ORDER BY bin_e2) AS sp
  FROM per
),
pair AS (
  SELECT l.i AS j, r.i AS k,
         l.sn - l.n AS snp, l.sp - l.p AS spp,
         r.sn AS snk, r.sp AS spk
  FROM pre l JOIN pre r ON r.i >= l.i
),
mj AS (SELECT j, min(((spk - spp) * 1000000) // (snk - snp)) AS m
       FROM pair GROUP BY 1),
fit AS (SELECT j, max(m) OVER (ORDER BY j) AS f FROM mj)
SELECT pre.bin_e2, pre.n AS n_docs, pre.p AS n_pos,
       CAST((pre.p * 1000000) // pre.n AS BIGINT) AS raw_ppm,
       CAST(fit.f AS BIGINT) AS fit_ppm
FROM pre JOIN fit ON fit.j = pre.i
"""


# --- curriculum interleave schedule -------------------------------------------

#: schedule block size (positions per audited block).
CURRICULUM_BLOCK = 50

#: difficulty clamp in e4 logit units (difficulty = -logit: low-quality
#: text is HARD; the clamp keeps the integer grid bounded).
CURRICULUM_CLAMP_E4 = 1_000_000


def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training schedule audit: every document gets a
    deterministic schedule position — sources round-robin interleaved,
    each source internally ordered easy→hard by the shared quality
    logit — and the audit reports, per CURRICULUM_BLOCK-position block
    and source, how many docs land there and the block share. The
    mixture stays balanced at every prefix of training (what
    mixture_epoch_plan guarantees only in expectation) while difficulty
    ramps monotonically within each source.

    Position formula: pos = (rank_within_source - 1) * n_sources +
    source_index — a perfect interleave, no shuffle-order ambiguity.

    Exactness: difficulty is the clamped e4-floored negative logit;
    within-source rank tiebreaks on doc_id; source_index is the
    source's rank in lexicographic order. All integer.

    Scale shape: within-source ranks ride ``layout.dense_ids_by``
    (range-partitioned global ids over (source, difficulty, doc_id) —
    no single-partition sort, no per-source window skew) minus a
    per-source offset from the |sources|-row cumulative frame, which
    broadcasts. One groupBy to the (blocks x sources) audit frame; the
    share window runs on that bounded frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "source",
        F.greatest(
            F.least(
                (-F.floor(quality_logit() * 10000 + F.lit(0.5))).cast("long"),
                F.lit(CURRICULUM_CLAMP_E4),
            ),
            F.lit(-CURRICULUM_CLAMP_E4),
        ).alias("_diff_e4"),
    )
    gid = layout.dense_ids_by(scored, ["source", "_diff_e4", "doc_id"], "_gid")
    # |sources|-row dimension frame: offsets, index, count — broadcasts.
    # asc_nulls_last: source is non-NULL by generator contract, but the
    # cross-engine rank must not depend on Spark's NULLS FIRST default.
    w_src = Window.orderBy(F.asc_nulls_last("source"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dims = (
        gid.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "source",
            (
                F.sum("_cnt").over(
                    w_src.rowsBetween(Window.unboundedPreceding, 0)
                )
                - F.col("_cnt")
            ).alias("_off"),
            F.row_number().over(w_src).alias("_sidx"),
        )
        .withColumn("_nsrc", F.count(F.lit(1)).over(w_all))
    )
    pos = gid.join(F.broadcast(dims), "source").select(
        "source",
        (
            (F.col("_gid") - F.col("_off") - 1) * F.col("_nsrc") + F.col("_sidx")
        ).alias("_pos"),
    )
    blocks = pos.groupBy(
        F.expr(f"(_pos - 1) div {CURRICULUM_BLOCK}").cast("long").alias("block"),
        "source",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("_pos").cast("long").alias("min_pos"),
        F.max("_pos").cast("long").alias("max_pos"),
    )
    w_blk = Window.partitionBy("block")
    return blocks.select(
        "block",
        "source",
        "n_docs",
        F.col("n_docs").alias("_num"),
        F.sum("n_docs").over(w_blk).alias("_tot"),
        "min_pos",
        "max_pos",
    ).select(
        "block",
        "source",
        "n_docs",
        F.expr("(_num * 10000) div _tot").cast("long").alias("share_bp"),
        "min_pos",
        "max_pos",
    )


CURRICULUM_SQL = f"""
WITH {_logit_ctes()},
sc AS (
  SELECT s.doc_id, doc.source,
         greatest(least(-CAST(floor(logit * 10000 + 0.5) AS BIGINT),
                        {CURRICULUM_CLAMP_E4}), -{CURRICULUM_CLAMP_E4}) AS diff
  FROM s JOIN documents doc USING (doc_id)
),
r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY diff, doc_id) AS rs
  FROM sc
),
dims AS (
  SELECT source,
         row_number() OVER (ORDER BY source) AS sidx,
         count(*) OVER () AS nsrc
  FROM (SELECT DISTINCT source FROM sc)
),
p AS (
  SELECT r.source, (rs - 1) * nsrc + sidx AS pos
  FROM r JOIN dims USING (source)
),
blk AS (
  SELECT (pos - 1) // {CURRICULUM_BLOCK} AS block, source,
         count(*)::BIGINT AS n_docs,
         min(pos) AS min_pos, max(pos) AS max_pos
  FROM p GROUP BY 1, 2
)
SELECT CAST(block AS BIGINT) AS block, source, n_docs,
       CAST((n_docs * 10000) // sum(n_docs) OVER (PARTITION BY block)
         AS BIGINT) AS share_bp,
       CAST(min_pos AS BIGINT) AS min_pos,
       CAST(max_pos AS BIGINT) AS max_pos
FROM blk
"""


# --- per-fold cross-validation scores -----------------------------------------

def cv_fold_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold evaluation of the shared quality-logit classifier
    (predict en when logit >= 0) under the SAME md5-wheel fold
    assignment stratified_kfold_assign audits: per fold, the full
    confusion matrix plus accuracy / precision / recall in basis
    points. stratified_kfold_assign certifies the folds are balanced;
    this reports the metric VARIANCE across them — the cross-validation
    readout that says whether the global AUC is stable or one lucky
    fold.

    Exactness: the confusion cells are exact integer sums of indicator
    products; rates are floored bp with CASE guards on empty
    denominators (-1 sentinel), mirrored in both engines. The logit>=0
    predicate compares the SAME IEEE double expression both engines
    evaluate identically (the decile/threshold queries already pin
    this).

    Scale shape: map-only scoring, one groupBy to the |folds|-row
    frame. Nothing else."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    lab = docs.select(
        hash_bucket(F.col("doc_id"), "kfold", KFOLDS).cast("long").alias("fold"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        F.when(quality_logit() >= 0, 1).otherwise(0).cast("long").alias("_yh"),
    )
    per = lab.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("_y * _yh")).cast("long").alias("tp"),
        F.sum(F.expr("(1 - _y) * _yh")).cast("long").alias("fp"),
        F.sum(F.expr("_y * (1 - _yh)")).cast("long").alias("fn"),
        F.sum(F.expr("(1 - _y) * (1 - _yh)")).cast("long").alias("tn"),
    )
    return per.select(
        "fold",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("((tp + tn) * 10000) div n_docs").cast("long").alias("acc_bp"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (tp * 10000) div (tp + fp) ELSE -1 END"
        )
        .cast("long")
        .alias("prec_bp"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (tp * 10000) div (tp + fn) ELSE -1 END"
        )
        .cast("long")
        .alias("rec_bp"),
    )


_CV_FOLD_HASH = MD5_BIGINT.format(expr="doc_id::VARCHAR || 'kfold'")

CV_FOLD_SQL = f"""
WITH {_logit_ctes()},
lab AS (
  SELECT {_CV_FOLD_HASH} % {KFOLDS} AS fold,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS yh
  FROM s
),
per AS (
  SELECT fold, count(*)::BIGINT AS n_docs,
         sum(y * yh)::BIGINT AS tp,
         sum((1 - y) * yh)::BIGINT AS fp,
         sum(y * (1 - yh))::BIGINT AS fn,
         sum((1 - y) * (1 - yh))::BIGINT AS tn
  FROM lab GROUP BY 1
)
SELECT CAST(fold AS BIGINT) AS fold, n_docs, tp, fp, fn, tn,
       CAST(((tp + tn) * 10000) // n_docs AS BIGINT) AS acc_bp,
       CAST(CASE WHEN tp + fp > 0 THEN (tp * 10000) // (tp + fp) ELSE -1 END
         AS BIGINT) AS prec_bp,
       CAST(CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn) ELSE -1 END
         AS BIGINT) AS rec_bp
FROM per
"""


# --- exact Gini-impurity decision stump --------------------------------------

#: logit-bin clamp in e2 units (the isotonic PAV grid bound)
STUMP_CLAMP_E2 = 300


def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-threshold decision stump on the shared quality logit
    against lang='en': over the clamped e2 score-bin domain, find the
    threshold θ minimizing the weighted Gini impurity of the ≤θ / >θ
    split — the exact feature-screening primitive behind every
    tree-based baseline (contingency_association screens a categorical
    pair; this screens a continuous feature against a binary label and
    returns the actionable cut point).

    Exactness: per-bin (n, positives) are exact integers; with left
    cumulative (nL, pL) and totals (N, P), weighted impurity
    = 2·[pL(nL−pL)/nL + pR(nR−pR)/nR]/N is the exact rational
    2·(pL(nL−pL)·nR + pR(nR−pR)·nL) / (nL·nR·N), floored to e9 in
    decimal(38,0) integer division (count triple-products leave int64
    past ~10^6 rows — the ks headroom argument). Non-negative
    operands, so Spark div == DuckDB //. The argmin tiebreaks on the
    smaller θ via row_number over the bin-bounded frame.

    Scale shape: the corpus collapses to the ≤601-bin frame in one
    aggregate; all windows (cumulatives, totals, argmin rank) run on
    that grid-bounded frame. NULL-text docs are excluded by mirrored
    filter (no score signal)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(quality_logit() * 100 + F.lit(0.5)).cast("long"),
                F.lit(STUMP_CLAMP_E2),
            ),
            F.lit(-STUMP_CLAMP_E2),
        ).alias("thr_e2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
    )
    per = b.groupBy("thr_e2").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # ≤601 rows from here on — every window is grid-bounded.
    w_cum = Window.orderBy(F.asc_nulls_last("thr_e2")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per.select(
        "thr_e2",
        F.sum("_n").over(w_cum).alias("_nl"),
        F.sum("_p").over(w_cum).alias("_pl"),
        F.sum("_n").over(w_all).alias("_nt"),
        F.sum("_p").over(w_all).alias("_pt"),
    ).filter(F.col("_nl") < F.col("_nt"))
    scored = cum.select(
        "thr_e2", "_nl", "_pl", "_nt", "_pt",
        F.expr(
            "(2000000000 * (CAST(_pl AS DECIMAL(38,0)) * (_nl - _pl) * (_nt - _nl)"
            " + CAST(_pt - _pl AS DECIMAL(38,0)) * ((_nt - _nl) - (_pt - _pl)) * _nl))"
            " div (CAST(_nl AS DECIMAL(38,0)) * (_nt - _nl) * _nt)"
        ).cast("long").alias("_gini_e9"),
    )
    best = scored.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.asc("_gini_e9"), F.asc("thr_e2"))
        ),
    ).filter(F.col("_rk") == 1)
    return best.select(
        F.col("thr_e2").cast("long").alias("thr_e2"),
        F.col("_nl").cast("long").alias("n_left"),
        F.col("_pl").cast("long").alias("p_left"),
        (F.col("_nt") - F.col("_nl")).cast("long").alias("n_right"),
        (F.col("_pt") - F.col("_pl")).cast("long").alias("p_right"),
        F.col("_gini_e9").alias("gini_split_e9"),
        F.expr(
            "CAST((2000000000 * (CAST(_pt AS DECIMAL(38,0)) * (_nt - _pt)))"
            " div (CAST(_nt AS DECIMAL(38,0)) * _nt) AS BIGINT)"
        ).alias("gini_root_e9"),
    )


STUMP_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 100 + 0.5) AS BIGINT),
                        {STUMP_CLAMP_E2}), -{STUMP_CLAMP_E2}) AS thr_e2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s WHERE logit IS NOT NULL
),
per AS (SELECT thr_e2, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        FROM bb GROUP BY 1),
cum AS (
  SELECT thr_e2,
         sum(n) OVER (ORDER BY thr_e2) AS nl,
         sum(p) OVER (ORDER BY thr_e2) AS pl,
         sum(n) OVER () AS nt,
         sum(p) OVER () AS pt
  FROM per
),
scored AS (
  SELECT thr_e2, nl, pl, nt, pt,
         CAST((2000000000 * (CAST(pl AS HUGEINT) * (nl - pl) * (nt - nl)
               + CAST(pt - pl AS HUGEINT) * ((nt - nl) - (pt - pl)) * nl))
              // (CAST(nl AS HUGEINT) * (nt - nl) * nt) AS BIGINT)
           AS gini_e9
  FROM cum WHERE nl < nt
),
best AS (
  SELECT *, row_number() OVER (ORDER BY gini_e9 ASC, thr_e2 ASC) AS rk
  FROM scored
)
SELECT CAST(thr_e2 AS BIGINT) AS thr_e2,
       CAST(nl AS BIGINT) AS n_left,
       CAST(pl AS BIGINT) AS p_left,
       CAST(nt - nl AS BIGINT) AS n_right,
       CAST(pt - pl AS BIGINT) AS p_right,
       gini_e9 AS gini_split_e9,
       CAST((2000000000 * (CAST(pt AS HUGEINT) * (nt - pt)))
            // (CAST(nt AS HUGEINT) * nt) AS BIGINT) AS gini_root_e9
FROM best WHERE rk = 1
"""


# --- power-of-two padding-waste audit ----------------------------------------


def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding economics for LLM training/serving: documents are
    assigned to power-of-two length buckets (the standard bucketed-
    batching scheme) and the audit reports, per bucket, the exact
    token waste — (bucket_width − n_tokens) summed — and the waste
    share in basis points. This is the number that decides bucket
    granularity: pad-to-longest in a power-of-two bucket wastes
    ≤ 50% worst-case; the audit shows the realized figure per bucket.

    Exactness: the bucket is 2^ceil(log2(n)) computed as
    shiftleft(1, length(bin(n−1))) — pure integer bit arithmetic, no
    engine log2 (the column_encoding_advisor trick); waste and shares
    are exact integer arithmetic.

    Scale shape: map-side token count + bucket assignment, ONE
    aggregate to the ≤ ~40-row bucket frame."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.expr(
            "CAST(CASE WHEN size(split(trim(text), '\\\\s+')) <= 1 THEN 1"
            " ELSE shiftleft(CAST(1 AS BIGINT),"
            " length(bin(size(split(trim(text), '\\\\s+')) - 1))) END AS BIGINT)"
        ).alias("bucket"),
        F.expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").alias("_nt"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("sum_tokens"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("bucket") - F.col("sum_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.expr(
            "CAST(((n_docs * bucket - sum_tokens) * 10000)"
            " div (n_docs * bucket) AS BIGINT)"
        ).alias("waste_bp"),
    )


PADDING_SQL = r"""
WITH b AS (
  SELECT CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) <= 1 THEN 1
              ELSE 1::BIGINT << length(bin(
                     len(regexp_split_to_array(trim(text), '\s+')) - 1))
         END AS bucket,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS nt
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT bucket, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS sum_tokens
  FROM b GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, sum_tokens,
       CAST(n_docs * bucket - sum_tokens AS BIGINT) AS waste_tokens,
       CAST(((n_docs * bucket - sum_tokens) * 10000)
            // (n_docs * bucket) AS BIGINT) AS waste_bp
FROM agg
"""


# --- held-out expected calibration error -------------------------------------

ECE_CLAMP_E1 = 30    #: coarse e1 logit-bin clamp (≤61 bins)


def ece_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Expected Calibration Error of the isotonic-calibrated
    quality model: documents split into md5 halves, the PAV isotonic
    fit (the exact max-min closed form from isotonic_calibration, on a
    coarser ≤61-bin grid) is computed on the TRAIN half, and each TEST-
    half bin reports its observed positive rate vs the train fit plus
    the |gap|-weighted ECE contribution — the calibration EVAL that
    completes the calibration FIT: isotonic_calibration measures the
    in-sample curve; this measures whether it transfers to unseen data
    (Naeini et al.'s ECE, binned form).

    Exactness: the PAV fit is the same exact integer max-min closed
    form (floor commutes with min/max); test rates are exact ppm
    integer divisions; the ECE contribution |rate−fit|·n_test is exact
    integer arithmetic (summable in any order). Test bins with no train
    fit (score region unseen in training) emit NULL fit and are
    excluded from the ECE sum via CASE in both engines — reported, not
    silently dropped.

    Scale shape: both halves collapse to ≤61-bin frames in one
    aggregate each; the PAV pair expansion, windows, and the train-test
    bin join are all grid-bounded (the isotonic justification)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        F.greatest(
            F.least(
                F.floor(quality_logit() * 10 + F.lit(0.5)).cast("long"),
                F.lit(ECE_CLAMP_E1),
            ),
            F.lit(-ECE_CLAMP_E1),
        ).alias("bin_e1"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("_y"),
        hash_bucket(F.col("doc_id"), "ece", 2).alias("_h"),
    )
    per_tr = b.filter(F.col("_h") == 0).groupBy("bin_e1").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    # ≤61 rows from here on — grid-bounded (the isotonic justification).
    w_cum = Window.orderBy(F.asc_nulls_last("bin_e1")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pre = per_tr.select(
        "bin_e1",
        "_n",
        "_p",
        F.row_number().over(Window.orderBy(F.asc_nulls_last("bin_e1"))).alias("_i"),
        F.sum("_n").over(w_cum).alias("_sn"),
        F.sum("_p").over(w_cum).alias("_sp"),
    ).withColumn("_m", F.max("_i").over(w_all))
    pairs = pre.select(
        F.col("_i").alias("_j"),
        (F.col("_sn") - F.col("_n")).alias("_snp"),
        (F.col("_sp") - F.col("_p")).alias("_spp"),
        F.explode(F.sequence(F.col("_i"), F.col("_m"))).alias("_k"),
    )
    right = pre.select(
        F.col("_i").alias("_k"), F.col("_sn").alias("_snk"), F.col("_sp").alias("_spk")
    )
    mj = (
        pairs.join(F.broadcast(right), "_k")
        .groupBy("_j")
        .agg(F.min(F.expr("((_spk - _spp) * 1000000) div (_snk - _snp)")).alias("_mj"))
    )
    w_fit = Window.orderBy("_j").rowsBetween(Window.unboundedPreceding, 0)
    fit = (
        mj.select(F.col("_j").alias("_i"), F.max("_mj").over(w_fit).alias("_f"))
        .join(F.broadcast(pre.select("_i", "bin_e1")), "_i")
        .select("bin_e1", F.col("_f").alias("fit_ppm"))
    )
    per_te = b.filter(F.col("_h") == 1).groupBy("bin_e1").agg(
        F.count(F.lit(1)).alias("_nt"), F.sum("_y").alias("_pt")
    )
    joined = per_te.join(F.broadcast(fit), "bin_e1", "left").select(
        "bin_e1",
        "_nt",
        "_pt",
        "fit_ppm",
        F.expr("(_pt * 1000000) div _nt").alias("_rate"),
    )
    w_tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = joined.withColumn(
        "_contrib",
        F.expr("CASE WHEN fit_ppm IS NOT NULL THEN abs(_rate - fit_ppm) * _nt END"),
    ).withColumn("_ntot", F.sum("_nt").over(w_tot))
    return out.select(
        F.col("bin_e1").cast("long").alias("bin_e1"),
        F.col("_nt").cast("long").alias("n_test"),
        F.col("_pt").cast("long").alias("p_test"),
        F.col("_rate").cast("long").alias("rate_ppm"),
        F.col("fit_ppm").cast("long").alias("fit_ppm"),
        F.expr(
            "CAST(CASE WHEN fit_ppm IS NOT NULL THEN abs(_rate - fit_ppm) END AS BIGINT)"
        ).alias("gap_ppm"),
        F.expr(
            "CAST(CASE WHEN fit_ppm IS NOT NULL THEN (abs(_rate - fit_ppm) * _nt)"
            " div _ntot END AS BIGINT)"
        ).alias("ece_term_ppm"),
    )


ECE_SQL = f"""
WITH {_logit_ctes()},
bb AS (
  SELECT greatest(least(CAST(floor(logit * 10 + 0.5) AS BIGINT),
                        {ECE_CLAMP_E1}), -{ECE_CLAMP_E1}) AS bin_e1,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ('0x' || substr(md5(doc_id::VARCHAR || 'ece'), 1, 8))::BIGINT % 2 AS h
  FROM s
  WHERE logit IS NOT NULL
),
per_tr AS (SELECT bin_e1, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
           FROM bb WHERE h = 0 GROUP BY 1),
pre AS (
  SELECT bin_e1, n, p,
         row_number() OVER (ORDER BY bin_e1) AS i,
         sum(n) OVER (ORDER BY bin_e1) AS sn,
         sum(p) OVER (ORDER BY bin_e1) AS sp,
         count(*) OVER () AS m
  FROM per_tr
),
pairs AS (
  SELECT a.i AS j, a.sn - a.n AS snp, a.sp - a.p AS spp,
         b.i AS k, b.sn AS snk, b.sp AS spk
  FROM pre a JOIN pre b ON b.i >= a.i
),
mj AS (
  SELECT j, min(((spk - spp) * 1000000) // (snk - snp)) AS mjv
  FROM pairs GROUP BY 1
),
fit AS (
  SELECT p2.bin_e1, f.f AS fit_ppm FROM (
    SELECT j AS i, max(mjv) OVER (ORDER BY j) AS f FROM mj
  ) f JOIN pre p2 ON p2.i = f.i
),
per_te AS (SELECT bin_e1, count(*)::BIGINT AS nt, sum(y)::BIGINT AS pt
           FROM bb WHERE h = 1 GROUP BY 1),
joined AS (
  SELECT t.bin_e1, t.nt, t.pt, fit.fit_ppm,
         (t.pt * 1000000) // t.nt AS rate,
         sum(t.nt) OVER () AS ntot
  FROM per_te t LEFT JOIN fit ON t.bin_e1 = fit.bin_e1
)
SELECT CAST(bin_e1 AS BIGINT) AS bin_e1,
       CAST(nt AS BIGINT) AS n_test,
       CAST(pt AS BIGINT) AS p_test,
       CAST(rate AS BIGINT) AS rate_ppm,
       CAST(fit_ppm AS BIGINT) AS fit_ppm,
       CAST(CASE WHEN fit_ppm IS NOT NULL THEN abs(rate - fit_ppm) END AS BIGINT)
         AS gap_ppm,
       CAST(CASE WHEN fit_ppm IS NOT NULL
                 THEN (abs(rate - fit_ppm) * nt) // ntot END AS BIGINT)
         AS ece_term_ppm
FROM joined
"""


# --- Brier-score Murphy decomposition of a binned conversion predictor -----------

# conversion definition shared with ab_test_zscore / group_sequential_obf /
# ab_power_mde — ONE constant, strict `>` (a review catch: a first copy
# here used `>=`, silently scoring the boundary purchase differently
# from the rest of the experiment suite)

def brier_decomposition_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a binned conversion
    predictor: users bin by activity (ilog2 of event count — the
    ipw_ate stratification); the predictor is each bin's TRAIN-half
    conversion rate; the TEST half scores it. Reports the mean Brier
    score and its Murphy split — reliability (calibration error),
    resolution (discrimination), uncertainty (base-rate entropy) —
    the standard probabilistic-forecast verification
    ece_calibration_eval's single calibration number can't provide
    (a predictor can be perfectly calibrated yet useless; resolution
    is what separates them).

    Exactness: per-bin (m, s, n, k) are exact integers; every per-bin
    term (Brier, reliability, resolution) is a fixed-shape
    floor(1e6·expr) double over those integers, FLOORED BEFORE the
    cross-bin sum so accumulation order can't diverge (the logrank
    precedent); the final means divide the floored-integer sums by the
    scored-test count in one fixed-shape expression. Test bins whose
    score region was unseen in training have no prediction: excluded
    from every sum AND counted in ``n_test_unscored`` (the ECE
    reported-not-dropped rule). Empty test half emits NULLs via
    mirrored CASE.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle); both halves collapse to ≤ ~40 ilog2-bin frames; the
    train-test join, the base-rate window and the final roll-up are
    all grid-bounded (the ipw/isotonic justification)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nev"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("value").isNotNull()
                & (F.col("value") > BRIER_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("_y"),
    ).select(
        F.expr("CAST(length(bin(_nev)) - 1 AS BIGINT)").alias("_bin"),
        "_y",
        hash_bucket(F.col("user_id"), "brier", 2).alias("_h"),
    )
    tr = users.filter(F.col("_h") == 0).groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_m"), F.sum("_y").alias("_s")
    )
    te = users.filter(F.col("_h") == 1).groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_k")
    )
    j = te.join(tr, "_bin", "left")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # scored totals (bins WITH a train fit) for the base rate
    scored_n = F.sum(F.when(F.col("_m").isNotNull(), F.col("_n"))).over(w_all)
    scored_k = F.sum(F.when(F.col("_m").isNotNull(), F.col("_k"))).over(w_all)
    jj = j.select(
        "_bin", "_n", "_k", "_m", "_s",
        scored_n.alias("_tn"),
        scored_k.alias("_tk"),
    )
    p = "CAST(_s AS DOUBLE) / _m"
    o = "CAST(_k AS DOUBLE) / _n"
    obar = "CAST(_tk AS DOUBLE) / _tn"
    brier_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" (_n * ({p}) * ({p}) - 2 * ({p}) * _k + _k)) AS BIGINT) END"
    )
    rel_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" _n * (({p}) - ({o})) * (({p}) - ({o}))) AS BIGINT) END"
    )
    res_t = (
        f"CASE WHEN _m IS NOT NULL THEN CAST(floor(1000000.0 *"
        f" _n * (({o}) - ({obar})) * (({o}) - ({obar}))) AS BIGINT) END"
    )
    terms = jj.select(
        "_bin", "_n", "_k", "_m", "_tn", "_tk",
        F.expr(brier_t).alias("_bt"),
        F.expr(rel_t).alias("_rt"),
        F.expr(res_t).alias("_st"),
    )
    agg = terms.agg(
        F.max("_tn").alias("_tn"),
        F.max("_tk").alias("_tk"),
        F.sum(F.when(F.col("_m").isNull(), F.col("_n")).otherwise(0)).alias(
            "_unscored"
        ),
        F.sum("_bt").alias("_bsum"),
        F.sum("_rt").alias("_rsum"),
        F.sum("_st").alias("_ssum"),
    )
    mean = "CAST(floor(CAST({x} AS DOUBLE) / _tn) AS BIGINT)"
    return agg.select(
        F.coalesce(F.col("_tn"), F.lit(0)).cast("long").alias("n_test_scored"),
        F.coalesce(F.col("_unscored"), F.lit(0)).cast("long").alias(
            "n_test_unscored"
        ),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_bsum')} END"
        ).alias("brier_e6"),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_rsum')} END"
        ).alias("reliability_e6"),
        F.expr(
            f"CASE WHEN _tn > 0 THEN {mean.format(x='_ssum')} END"
        ).alias("resolution_e6"),
        F.expr(
            "CASE WHEN _tn > 0 THEN CAST(floor(1000000.0"
            " * (CAST(_tk AS DOUBLE) / _tn)"
            " * (1.0 - CAST(_tk AS DOUBLE) / _tn)) AS BIGINT) END"
        ).alias("uncertainty_e6"),
    )


BRIER_SQL = f"""
WITH users AS (
  SELECT CAST(length(bin(count(*))) - 1 AS BIGINT) AS bin,
         max(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                       AND value > {BRIER_CONV_MIN} THEN 1 ELSE 0 END) AS y,
         ('0x' || substr(md5(user_id::VARCHAR || 'brier'), 1, 8))::BIGINT
           % 10000 % 2 AS h
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
tr AS (SELECT bin, count(*) AS m, sum(y) AS s FROM users WHERE h = 0 GROUP BY 1),
te AS (SELECT bin, count(*) AS n, sum(y) AS k FROM users WHERE h = 1 GROUP BY 1),
j AS (
  SELECT te.bin, te.n, te.k, tr.m, tr.s FROM te LEFT JOIN tr USING (bin)
),
jj AS (
  SELECT *,
         sum(CASE WHEN m IS NOT NULL THEN n END) OVER () AS tn,
         sum(CASE WHEN m IS NOT NULL THEN k END) OVER () AS tk
  FROM j
),
terms AS (
  SELECT *,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           (n * (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m)
            - 2 * (CAST(s AS DOUBLE) / m) * k + k)) AS BIGINT) END AS bt,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           n * ((CAST(s AS DOUBLE) / m) - (CAST(k AS DOUBLE) / n))
             * ((CAST(s AS DOUBLE) / m) - (CAST(k AS DOUBLE) / n)))
           AS BIGINT) END AS rt,
         CASE WHEN m IS NOT NULL THEN CAST(floor(1000000.0 *
           n * ((CAST(k AS DOUBLE) / n) - (CAST(tk AS DOUBLE) / tn))
             * ((CAST(k AS DOUBLE) / n) - (CAST(tk AS DOUBLE) / tn)))
           AS BIGINT) END AS st
  FROM jj
),
agg AS (
  SELECT max(tn) AS tn, max(tk) AS tk,
         sum(CASE WHEN m IS NULL THEN n ELSE 0 END) AS unscored,
         sum(bt) AS bsum, sum(rt) AS rsum, sum(st) AS ssum
  FROM terms
)
SELECT CAST(coalesce(tn, 0) AS BIGINT) AS n_test_scored,
       CAST(coalesce(unscored, 0) AS BIGINT) AS n_test_unscored,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(bsum AS DOUBLE) / tn) AS BIGINT) END AS brier_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(rsum AS DOUBLE) / tn) AS BIGINT) END AS reliability_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(CAST(ssum AS DOUBLE) / tn) AS BIGINT) END AS resolution_e6,
       CASE WHEN tn > 0 THEN
         CAST(floor(1000000.0 * (CAST(tk AS DOUBLE) / tn)
              * (1.0 - CAST(tk AS DOUBLE) / tn)) AS BIGINT) END
         AS uncertainty_e6
FROM agg
"""
