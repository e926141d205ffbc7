"""Second-wave training-data curation operators:

- cross-document repeated-span detection (the approximate form of
  suffix-array substring dedup: hash non-overlapping token windows,
  find windows shared across documents),
- keep-best canonical selection per near-dup cluster (longest-doc-wins,
  the policy a dedup pass actually applies),
- int8 embedding quantization with reconstruction-error stats (the
  compression step before shipping vectors to an ANN index),
- Zipf rank-frequency curve of the corpus vocabulary.

All pure DataFrame plans; scalar totals are broadcast 1-row aggregates
(whitelisted in the cartesian guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, textops
from ..session import fan_out, load_table
from .extension_queries import DEDUP_CLUSTERS_SQL

SPAN_K = 4  # tokens per non-overlapping span window


def span_dedup_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated spans: hash every non-overlapping
    SPAN_K-token window, keep hashes seen in ≥2 distinct documents.

    This is the scalable skeleton of substring dedup (Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" uses
    suffix arrays; the distributed approximation hashes fixed windows):
    explode → one groupBy on the span hash — shuffle volume is
    n_tokens/SPAN_K rows, not quadratic in documents.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = dedup.tokens("text")
    n = F.size(w)

    # stride extraction + zip_with, NOT transform-over-starts with
    # slice(tokens(text), i, k): Catalyst inlines the tokenizer into the
    # lambda, re-splitting the whole document once per span — O(len²)
    # per doc (the --longtext axis measured 477 s over fifty 218k-char
    # docs; same defect class as textops.boilerplate_strip's
    # segmentation). filter/zip_with evaluate the token
    # array once per ROW. Only FULL SPAN_K-token windows count (the
    # original's starts stopped at n-SPAN_K+1), so the zip chain's
    # ragged tail is sliced off: floor(n/SPAN_K) full windows.
    def _stride(j: int):
        return F.filter(w, lambda x, i: i % SPAN_K == j)

    chain = _stride(0)
    for j in range(1, SPAN_K):
        chain = F.zip_with(chain, _stride(j), lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(chain, F.lit(1), F.floor(n / SPAN_K).cast("int"))
    spans = (
        docs.filter(n >= SPAN_K)
        .select("doc_id", F.explode(full).alias("span"))
        .select("doc_id", F.md5("span").alias("span_hash"))
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SPAN_DEDUP_SQL = rf"""
WITH toks AS (
  -- rid keeps physically-duplicated doc_id ROWS apart (the --dupes
  -- mirror duplicates every row with identical keys): the Spark side
  -- explodes spans per physical row, so the oracle's position groups
  -- must never merge two copies' tokens (caught by the dupes gate)
  SELECT doc_id, row_number() OVER () AS rid,
         regexp_split_to_array(lower(text), '\s+') AS w
  FROM documents
),
-- token rows + grouped position, not a per-span slice of the carried
-- token list (that re-materialized the whole doc per span: O(len²) on
-- the --longtext mirror); nt = {SPAN_K} keeps full windows only,
-- mirroring the Spark side's sliced zip chain
tok AS (
  SELECT doc_id, rid, unnest(w) AS t, generate_subscripts(w, 1) AS pos
  FROM toks WHERE len(w) >= {SPAN_K}
),
seg AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS span, count(*) AS nt
  FROM tok GROUP BY doc_id, rid, (pos - 1) // {SPAN_K}
),
spans AS (
  SELECT doc_id, md5(span) AS span_hash FROM seg WHERE nt = {SPAN_K}
)
SELECT span_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM spans
GROUP BY span_hash
HAVING count(DISTINCT doc_id) >= 2
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per near-dup cluster: within each connected
    component of the n-gram-Jaccard pair graph, keep the LONGEST document
    (ties → lowest doc_id) — longest-doc-wins is the usual curation
    policy (the shortest member is most often the truncated copy).

    Plan: pairs → min-label components (driver loops over O(diameter)
    rounds) → one partitioned window argmax. No driver-side data.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.2, reuse="checkpoint"
    )
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    members = cc.join(
        docs.select("doc_id", "n_chars"), cc["node"] == F.col("doc_id")
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster")))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("doc_id").alias("keep_doc_id"), "n_members")
    )


# reuse the recursive-components oracle's CTE chain, swapping the final
# per-node select for the per-cluster keep-best argmax
KEEP_BEST_SQL = (
    DEDUP_CLUSTERS_SQL.rsplit("SELECT node AS doc_id", 1)[0]
    + """,
clusters AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
SELECT cluster, doc_id AS keep_doc_id, n_members
FROM (
  SELECT c.cluster, d.doc_id,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster) AS n_members
  FROM clusters c JOIN documents d ON c.node = d.doc_id
)
WHERE rn = 1
"""
)


def emb_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127) with
    reconstruction-error stats per label. Codes are exact small integers,
    so sum_codes is an order-independent exact check; avg_mse / max_err
    quantify the information loss. Pure array expressions — zero UDFs,
    one aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    maxabs = F.greatest(F.array_max(F.transform(x, F.abs)), F.lit(1e-30))
    code = lambda v: F.floor(v * 127 / F.col("maxabs") + F.lit(0.5))  # noqa: E731
    dequant = lambda v: code(v) * F.col("maxabs") / 127  # noqa: E731
    per_row = (
        emb.withColumn("xs", x)
        .withColumn("maxabs", maxabs)
        .select(
            "label",
            F.aggregate("xs", F.lit(0.0), lambda acc, v: acc + code(v))
            .cast("long")
            .alias("row_codes"),
            (
                F.aggregate(
                    "xs", F.lit(0.0), lambda acc, v: acc + F.pow(v - dequant(v), F.lit(2.0))
                )
                / F.size("xs")
            ).alias("row_mse"),
            F.array_max(F.transform("xs", lambda v: F.abs(v - dequant(v)))).alias("row_maxerr"),
        )
    )
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("row_codes").alias("sum_codes"),
        F.round(F.avg("row_mse"), 8).alias("avg_mse"),
        F.round(F.max("row_maxerr"), 8).alias("max_err"),
    )


EMB_QUANTIZE_SQL = """
WITH scaled AS (
  SELECT label,
         list_transform(embedding, v -> v::DOUBLE) AS xs,
         greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))), 1e-30) AS maxabs
  FROM embeddings
),
per_row AS (
  SELECT label,
         CAST(list_sum(list_transform(xs, v -> floor(v * 127 / maxabs + 0.5))) AS BIGINT)
           AS row_codes,
         list_sum(list_transform(xs,
             v -> pow(v - floor(v * 127 / maxabs + 0.5) * maxabs / 127, 2))) / len(xs)
           AS row_mse,
         list_max(list_transform(xs,
             v -> abs(v - floor(v * 127 / maxabs + 0.5) * maxabs / 127)))
           AS row_maxerr
  FROM scaled
)
SELECT label, count(*) AS n_vecs,
       CAST(sum(row_codes) AS BIGINT) AS sum_codes,
       round(avg(row_mse), 8) AS avg_mse,
       round(max(row_maxerr), 8) AS max_err
FROM per_row
GROUP BY label
"""


def vocab_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve: the 30 most frequent tokens with rank
    and cumulative share of ALL token occurrences. The heavy aggregation
    is distributed; the rank/cumulative window runs on the 30-row
    reduced set (driver-sized by construction), and the corpus total is
    a broadcast 1-row aggregate."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(dedup.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = counts.agg(F.sum("freq").alias("total_tokens"))
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(30)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        top.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("total_tokens"),
                6,
            ),
        )
        .select("rank", "token", "freq", "cum_share")
    )


VOCAB_ZIPF_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents
),
counts AS (SELECT token, count(*) AS freq FROM tok WHERE token <> '' GROUP BY token),
top AS (SELECT token, freq FROM counts ORDER BY freq DESC, token ASC LIMIT 30)
SELECT CAST(row_number() OVER w AS BIGINT) AS rank,
       token, freq,
       round((sum(freq) OVER (ORDER BY freq DESC, token ASC
                              ROWS UNBOUNDED PRECEDING))
             / (SELECT CAST(sum(freq) AS BIGINT) FROM counts), 6) AS cum_share
FROM top
WINDOW w AS (ORDER BY freq DESC, token ASC)
"""


def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-without-replacement sample: 25 documents drawn with
    probability ∝ length via deterministic priority sampling (weight/u
    over the md5 wheel — no transcendentals, so the selected set is
    cross-engine exact)."""
    from ..operators import sampling

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    picked = sampling.priority_sample(docs, "doc_id", "n_chars", 25)
    return picked.select("doc_id", "n_chars", F.round("priority", 6).alias("priority"))


SAMPLE_PRIORITY_SQL = """
WITH p AS (
  SELECT doc_id, n_chars,
         n_chars / ((('0x' || substr(md5(doc_id::VARCHAR || 'priority'), 1, 8))::BIGINT
                     % 10000 + 0.5) / 10000.0) AS priority
  FROM documents
)
SELECT doc_id, n_chars, round(priority, 6) AS priority
FROM p
ORDER BY p.priority DESC, doc_id ASC
LIMIT 25
"""


def kmv_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable distinct-count sketch: per-day distinct users estimated
    with a k-minimum-values sketch over the md5 wheel. Unlike HLL (whose
    registers are engine-private), KMV's estimate is a pure function of
    the hashed key set — identical in any engine, hence a full value
    oracle for an APPROXIMATE aggregate."""
    from ..operators import sampling

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    est = sampling.kmv_distinct(ev, ["day"], "user_id", k=32)
    return est.select("day", F.round("est_distinct", 4).alias("est_distinct"))


KMV_DISTINCT_SQL = """
WITH dist AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
h AS (
  SELECT day,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS _h
  FROM dist
),
ranked AS (SELECT day, _h, row_number() OVER (PARTITION BY day ORDER BY _h) AS rn FROM h)
SELECT day,
       round(CASE WHEN count(*) < 32 THEN count(*)::DOUBLE
                  ELSE 31.0 / max(CASE WHEN rn = 32 THEN _h END) END, 4) AS est_distinct
FROM ranked
GROUP BY day
"""


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate segment removal over the documents corpus: 2-token
    segments appearing in ≥5% of documents are stripped from every doc
    and the remaining text reassembled in order (C4-style line dedup for
    a whitespace corpus). The boilerplate set is corpus-size-independent
    (≤ segments-per-doc / 0.05 entries) and broadcasts as a hash join
    build side; the rebuild is one linear groupBy(id) reassembly (see
    operators/textops.boilerplate_strip)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = textops.boilerplate_strip(
        docs, "doc_id", "text", seg_words=2, max_df_frac=0.05
    )
    return out.orderBy("doc_id")


BOILERPLATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL AND text <> ''
),
-- token ROWS first, segments by grouped position — NOT a per-segment
-- slice of the full token list (unnesting start offsets while carrying
-- w per row re-materialized the whole document per segment: O(len²),
-- minutes on the --longtext mirror; this form is linear, mirroring the
-- Spark side's stride segmentation)
tok AS (
  SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) AS pos FROM toks
),
seg AS (
  SELECT doc_id, min(pos) AS i, string_agg(t, ' ' ORDER BY pos) AS seg_text
  FROM tok GROUP BY doc_id, (pos - 1) // 2
),
boiler AS (
  SELECT seg_text FROM seg GROUP BY seg_text
  HAVING count(DISTINCT doc_id) >= 0.05 * (SELECT count(*) FROM toks)
),
clean AS (
  -- hash LEFT JOIN against the boiler set, not NOT IN inside the
  -- FILTER clauses: the membership subquery re-evaluated per segment
  -- went quadratic on the --longtext mirror (13k segments/doc x 10k
  -- boiler entries: 850+ s), mirroring the Spark-side O(B*S) scan the
  -- r10 rewrite removed; the join form is seconds
  SELECT s.doc_id,
         string_agg(s.seg_text, ' ' ORDER BY s.i)
           FILTER (WHERE b.seg_text IS NULL) AS text_clean,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(count(b.seg_text) AS BIGINT) AS n_removed
  FROM seg s LEFT JOIN boiler b USING (seg_text)
  GROUP BY s.doc_id
)
SELECT doc_id, coalesce(text_clean, '') AS text_clean, n_segments, n_removed
FROM clean
ORDER BY doc_id
"""


def sample_top_p_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) document selection per source: within each
    source, rank documents by score (n_chars here — any per-doc quality
    scalar slots in) and keep the smallest prefix covering 80% of the
    source's total score mass. The LLM-curation analogue of top-p token
    sampling: spend the token budget on the best docs of every domain
    without a hard per-domain count.

    One shuffle (window + aggregate share the source partitioning);
    integer score sums keep the mass boundary cross-engine exact. A doc
    is kept iff the mass BEFORE it is < p·total, so the boundary doc is
    included and every source keeps ≥1 doc."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    cum = F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("n_chars").over(Window.partitionBy("source"))
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            (cum - F.col("n_chars")).alias("mass_before"),
            total.alias("source_total"),
        )
        .filter(F.col("mass_before") < 0.8 * F.col("source_total"))
        .select("doc_id", "source", "n_chars")
        .orderBy("source", F.desc("n_chars"), F.asc("doc_id"))
    )


TOP_P_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS mass_before,
         sum(n_chars) OVER (PARTITION BY source) AS source_total
  FROM documents
)
SELECT doc_id, source, n_chars
FROM ranked
WHERE mass_before < 0.8 * source_total
ORDER BY source, n_chars DESC, doc_id
"""


def approx_quantiles_value_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable gate for the approximate-quantile sketch
    (Greenwald-Khanna via ``percentile_approx`` — THE 100 TB quantile
    operator: mergeable constant-memory summaries, no sort, no global
    shuffle of raw values). The sketch's outputs are engine-specific, so
    the gate emits the EXACT per-type quantiles plus booleans asserting
    each GK estimate lands within the accuracy the relative-error
    parameter guarantees — rank error ≤ 1/accuracy, checked as a VALUE
    tolerance derived from the exact p±ε quantiles. The oracle asserts
    the exact columns and TRUE (same pattern as the HLL gate,
    timeseries_queries.approx_distinct_users_daily_gate)."""
    acc = 100  # rank error <= 1/100 of the group
    # check band = exact p±2% quantiles: the GK guarantee is ±n/acc RANKS
    # (±1% here), but at small groups the ±1 rank of interpolation
    # discreteness is the same order, so the band doubles the guarantee —
    # still a sharp gate at any realistic group size
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.25, 0.5, 0.75], acc).alias("_gk"),
        F.expr("percentile(value, array(0.23, 0.25, 0.27))").alias("_lo_q1"),
        F.expr("percentile(value, array(0.48, 0.50, 0.52))").alias("_lo_med"),
        F.expr("percentile(value, array(0.73, 0.75, 0.77))").alias("_lo_q3"),
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("_nv"),
    )

    def within(gk, band):
        # estimate inside the exact p±2% quantile band. Vacuously TRUE
        # (mirroring the oracle's literal) when there is nothing the
        # guarantee covers: zero non-NULL values (nulls-sweep class) or
        # a group smaller than the sketch accuracy denominator, where
        # the ±1-rank interpolation discreteness legitimately exceeds
        # the ±2% band (unicode-sweep found n=8 groups tripping it)
        # the support that matters is the NON-NULL value count (review
        # finding: a NULL-heavy group can have n >= acc rows but tiny
        # quantile support)
        return F.coalesce(
            ((gk >= band[0]) & (gk <= band[2])) | (F.col("_nv") < acc),
            F.lit(True),
        )

    return agg.select(
        "event_type",
        "n",
        F.round(F.col("_lo_q1")[1], 4).alias("exact_q1"),
        F.round(F.col("_lo_med")[1], 4).alias("exact_median"),
        F.round(F.col("_lo_q3")[1], 4).alias("exact_q3"),
        within(F.col("_gk")[0], F.col("_lo_q1")).alias("gk_q1_ok"),
        within(F.col("_gk")[1], F.col("_lo_med")).alias("gk_median_ok"),
        within(F.col("_gk")[2], F.col("_lo_q3")).alias("gk_q3_ok"),
    )


APPROX_QUANTILES_GATE_SQL = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.25), 4) AS exact_q1,
       round(quantile_cont(value, 0.50), 4) AS exact_median,
       round(quantile_cont(value, 0.75), 4) AS exact_q3,
       TRUE AS gk_q1_ok, TRUE AS gk_median_ok, TRUE AS gk_q3_ok
FROM events GROUP BY 1
"""


def kmv_weekly_merge_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY demonstrated and gated: per-day KMV states
    (the 128 smallest distinct-user hashes — what an incremental
    pipeline persists per partition) union-merge into weekly estimates.
    KMV merge is provably lossless — any hash among a week's k smallest
    ranks ≤ k within its own day too, so the union of day states
    contains the week's true k-min set — and the query asserts exactly
    that: ``merge_lossless`` compares the merged estimate against the
    direct whole-week sketch (must be identical), and ``in_bound``
    gates the estimate against the exact distinct count at 20%
    relative error (~2.2σ for k=128; measured ≤6% on this data).

    This is WHY sketches matter at 100 TB: day-level states are a few
    hundred bytes each, merge with a union, and never rescan history.
    Scale shape: one distinct shuffle, day- and week-keyed windows on
    the distinct table, all joins on the ~|weeks| result."""
    from ..operators import derive
    from ..operators.dedup import md5_int

    k = 128
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.date_trunc("week", F.to_date("ts")).cast("date").alias("week"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
        .withColumn(
            "_h",
            (md5_int(F.col("user_id").cast("string")) + F.lit(0.5))
            / F.lit(float(2**32)),
        )
        .localCheckpoint(eager=False)  # feeds day states + direct sketch + exact
    )
    wd = Window.partitionBy("week", "day").orderBy(F.asc("_h"))
    day_state = d.withColumn("_rn", F.row_number().over(wd)).filter(F.col("_rn") <= k)
    merged = day_state.select("week", "_h").distinct()
    wk = Window.partitionBy("week").orderBy(F.asc("_h"))

    def kmv_estimate(hashes):
        ranked = hashes.withColumn("_rn", F.row_number().over(wk)).filter(F.col("_rn") <= k)
        return ranked.groupBy("week").agg(
            F.count(F.lit(1)).alias("_c"),
            F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_hk"),
        ).select(
            "week",
            F.when(F.col("_c") < k, F.col("_c").cast("double"))
            .otherwise(F.lit(float(k - 1)) / F.col("_hk"))
            .alias("est"),
        )

    est_merged = kmv_estimate(merged).withColumnRenamed("est", "est_merged")
    est_direct = kmv_estimate(d.select("week", "_h").distinct()).withColumnRenamed(
        "est", "est_direct"
    )
    exact = d.groupBy("week").agg(F.countDistinct("user_id").alias("exact_distinct"))
    out = est_merged.join(est_direct, "week").join(exact, "week")
    return out.select(
        "week",
        derive.portable_round(F.col("est_merged"), 4).alias("est_merged"),
        derive.portable_round(F.col("est_direct"), 4).alias("est_direct"),
        "exact_distinct",
        (F.col("est_merged") == F.col("est_direct")).alias("merge_lossless"),
        (
            F.abs(F.col("est_merged") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.2
        ).alias("in_bound"),
    )


KMV_WEEKLY_MERGE_SQL = """
WITH d AS (
  SELECT DISTINCT date_trunc('week', ts::DATE) AS week, ts::DATE AS day, user_id
  FROM events
),
h AS (
  SELECT week, day, user_id,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS _h
  FROM d
),
daystate AS (
  SELECT week, _h,
         row_number() OVER (PARTITION BY week, day ORDER BY _h) AS rn
  FROM h
),
merged AS (SELECT DISTINCT week, _h FROM daystate WHERE rn <= 128),
mr AS (SELECT week, _h, row_number() OVER (PARTITION BY week ORDER BY _h) AS rn FROM merged),
est_m AS (
  SELECT week,
         CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
              ELSE 127.0 / max(CASE WHEN rn = 128 THEN _h END) END AS est_merged
  FROM (SELECT * FROM mr WHERE rn <= 128) GROUP BY 1
),
dw AS (SELECT DISTINCT week, _h FROM h),
dr AS (SELECT week, _h, row_number() OVER (PARTITION BY week ORDER BY _h) AS rn FROM dw),
est_d AS (
  SELECT week,
         CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
              ELSE 127.0 / max(CASE WHEN rn = 128 THEN _h END) END AS est_direct
  FROM (SELECT * FROM dr WHERE rn <= 128) GROUP BY 1
),
exact AS (SELECT week, count(DISTINCT user_id)::BIGINT AS exact_distinct FROM d GROUP BY 1)
SELECT week,
       floor(est_merged * 10000 + 0.5) / 10000 AS est_merged,
       floor(est_direct * 10000 + 0.5) / 10000 AS est_direct,
       exact_distinct,
       est_merged = est_direct AS merge_lossless,
       abs(est_merged - exact_distinct) / exact_distinct <= 0.2 AS in_bound
FROM est_m JOIN est_d USING (week) JOIN exact USING (week)
"""


PCA_DIM = 64
PCA_SCALE = 1000  # fixed-point quantizer: q = floor(v*1000 + 0.5)


def emb_pca_variance_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA with a driver-checkable accuracy gate (same design
    as the HLL/GK sketch gates): the top principal component of the
    embedding corpus is learned from an exactly-aggregated second-moment
    (Gram) matrix, and the gate asserts the property exact SQL CAN check
    — the PC's variance (Rayleigh quotient) is at least the best single
    axis's variance, which holds for the true top eigenvector and is
    preserved by power iteration started FROM that axis (the Rayleigh
    quotient is monotone non-decreasing under power iteration on a PSD
    matrix).

    Scale shape: embeddings quantize to fixed-point per element, and ONE
    pass aggregates n, the 64 axis sums, and the 2080 upper-triangle
    Gram sums (map-side partial agg ⇒ the shuffle carries O(dim²) rows
    per partition, never data). Driver state is the dim² Gram — the
    canonical distributed-PCA decomposition (compute moments in the
    cluster, eigensolve the tiny matrix on the driver). The covariance
    numerators are exact BIGINTs (n·Σqᵢqⱼ − SᵢSⱼ in arbitrary-precision
    Python), so every emitted integer is engine-portable.
    """
    d, last = PCA_DIM, PCA_DIM - 1
    emb = load_table(spark, sf_dir, "embeddings")
    qexpr = (
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * "
        f"{PCA_SCALE} + 0.5) AS BIGINT))"
    )
    terms = f"""
      concat(
        array(named_struct('i', -1, 'j', -1, 'p', CAST(1 AS BIGINT))),
        flatten(transform(sequence(0, {last}), i ->
          concat(
            array(named_struct('i', i, 'j', -1, 'p', q[i])),
            transform(sequence(i, {last}), j ->
              named_struct('i', i, 'j', j, 'p', q[i] * q[j]))
          ))))
    """
    rows = (
        emb.withColumn("q", F.expr(qexpr))
        .select(F.explode(F.expr(terms)).alias("t"))
        .select("t.i", "t.j", "t.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
        .collect()
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n_vecs", T.LongType()),
            T.StructField("best_axis", T.LongType()),
            T.StructField("best_axis_var", T.LongType()),
            T.StructField("trace_var", T.LongType()),
            T.StructField("pca_beats_best_axis", T.BooleanType()),
        ]
    )
    if not rows:  # empty corpus → empty result, declared schema
        return spark.createDataFrame([], schema)
    n = next(r["s"] for r in rows if r["i"] == -1 and r["j"] == -1)
    s = {r["i"]: r["s"] for r in rows if r["j"] == -1 and r["i"] >= 0}
    g = {(r["i"], r["j"]): r["s"] for r in rows if r["i"] >= 0 and r["j"] >= 0}
    # exact integer covariance numerators (n² · covariance)
    cov = [
        [n * g[(min(i, j), max(i, j))] - s[i] * s[j] for j in range(d)]
        for i in range(d)
    ]
    best_axis = max(range(d), key=lambda i: (cov[i][i], -i))
    best_var, trace = cov[best_axis][best_axis], sum(cov[i][i] for i in range(d))
    # power iteration from the best axis: Rayleigh quotient can only rise
    cf = [[float(x) for x in row] for row in cov]
    v = [0.0] * d
    v[best_axis] = 1.0
    for _ in range(200):
        w = [sum(cf[i][j] * v[j] for j in range(d)) for i in range(d)]
        norm = max(abs(x) for x in w) or 1.0
        v = [x / norm for x in w]
    vv = sum(x * x for x in v)
    # zero-variance corpus (all vectors identical — tiny-sweep ties
    # class): the iterate collapses to 0; the gate holds trivially
    rayleigh = (
        sum(v[i] * cf[i][j] * v[j] for i in range(d) for j in range(d)) / vv
        if vv > 0
        else 0.0
    )
    gate = rayleigh >= best_var * (1 - 1e-9)
    return spark.createDataFrame(
        [(int(n), best_axis, int(best_var), int(trace), bool(gate))], schema
    )


EMB_PCA_GATE_SQL = f"""
WITH q AS (
  SELECT vec_id, i,
         CAST(floor(embedding[i + 1]::DOUBLE * {PCA_SCALE} + 0.5) AS BIGINT) AS qv
  FROM embeddings, range({PCA_DIM}) t(i)
),
ax AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n, CAST(sum(qv) AS BIGINT) AS s,
         CAST(sum(qv * qv) AS BIGINT) AS ss
  FROM q GROUP BY 1
),
v AS (SELECT i, n, n * ss - s * s AS var_num FROM ax)
SELECT (SELECT max(n) FROM ax) AS n_vecs,
       (SELECT i FROM v ORDER BY var_num DESC, i LIMIT 1) AS best_axis,
       (SELECT CAST(max(var_num) AS BIGINT) FROM v) AS best_axis_var,
       (SELECT CAST(sum(var_num) AS BIGINT) FROM v) AS trace_var,
       TRUE AS pca_beats_best_axis
"""


def emb_centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale eval of a nearest-class-mean classifier (Rocchio /
    NCM): fit per-label centroids from the quantized embeddings, score
    every vector against every centroid by (deterministically quantized)
    cosine, and emit the confusion matrix.

    Engine-portable by construction: centroids are exact integer sums
    turned into fixed-point means via sign-adjusted integer division;
    the per-vector dot products are exact BIGINTs; the cosine
    denominator uses floor(sqrt(double)) of an exactly-representable
    integer (< 2^53), which IEEE guarantees identical in every engine —
    so the argmax and the confusion counts are bit-stable cross-engine.

    Scale shape: the fit is ONE distributed moment aggregation (label ×
    dim rows); driver state is the L·d centroid table (the k-means
    fit/probe precedent); scoring is a second map-only scan against the
    broadcast centroid literals; the confusion matrix is one L²-bounded
    groupBy. Cites the reference's dashboard classification intent
    (categoría/propulsión mapping) generalized to embedding space."""
    d, scale = PCA_DIM, PCA_SCALE
    # unlabeled vectors can neither train nor score a supervised
    # classifier — excluded in BOTH engines (nulls-sweep class)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
    )
    qexpr = (
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {scale}"
        " + 0.5) AS BIGINT))"
    )
    qd = emb.withColumn("q", F.expr(qexpr))
    moments = (
        qd.select("label", F.posexplode("q").alias("i", "qv"))
        .groupBy("label", "i")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import math

    from pyspark.sql import types as T

    _out_schema = T.StructType(
        [
            T.StructField("true_label", T.IntegerType()),
            T.StructField("pred_label", T.IntegerType()),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("is_correct", T.BooleanType()),
        ]
    )
    if not moments:  # empty corpus -> empty result, declared schema
        return spark.createDataFrame([], _out_schema)
    labels = sorted({r["label"] for r in moments})
    cen: dict[int, list[int]] = {}
    for lab in labels:
        n_c = next(r["n"] for r in moments if r["label"] == lab)
        s = {r["i"]: r["s"] for r in moments if r["label"] == lab}
        c = [
            (1 if s[i] >= 0 else -1) * ((abs(s[i]) * scale) // n_c)
            for i in range(d)
        ]
        cen[lab] = c
    rad = {
        lab: max(1, math.floor(math.sqrt(float(sum(x * x for x in c)))))
        for lab, c in cen.items()
    }
    score_structs = []
    for lab in labels:
        lits = ", ".join(f"{x}L" for x in cen[lab])
        dot = (
            f"aggregate(zip_with(q, array({lits}), (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v)"
        )
        score = (
            f"(CASE WHEN ({dot}) >= 0 THEN 1 ELSE -1 END)"
            f" * ((abs({dot}) * 1000) DIV {rad[lab]}L)"
        )
        score_structs.append(
            f"named_struct('s', {score}, 'nl', {-lab})"
        )
    pred = f"-array_max(array({', '.join(score_structs)})).nl"
    return (
        qd.select(
            F.col("label").alias("true_label"),
            F.expr(pred).cast("int").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .withColumn("is_correct", F.col("true_label") == F.col("pred_label"))
    )


CENTROID_EVAL_SQL = f"""
WITH q AS (
  SELECT vec_id, label, i,
         CAST(floor(embedding[i + 1]::DOUBLE * {PCA_SCALE} + 0.5) AS BIGINT) AS qv
  FROM embeddings, range({PCA_DIM}) t(i)
  WHERE label IS NOT NULL
),
mo AS (
  SELECT label, i, CAST(sum(qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM q GROUP BY 1, 2
),
cen AS (
  SELECT label, i,
         (CASE WHEN s >= 0 THEN 1 ELSE -1 END) * ((abs(s) * {PCA_SCALE}) // n) AS c
  FROM mo
),
rad AS (
  SELECT label, greatest(1, CAST(floor(sqrt(CAST(sum(c * c) AS DOUBLE))) AS BIGINT)) AS r
  FROM cen GROUP BY 1
),
dots AS (
  SELECT q.vec_id, q.label AS true_label, cen.label AS cand,
         CAST(sum(q.qv * cen.c) AS BIGINT) AS d
  FROM q JOIN cen USING (i)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT vec_id, true_label, cand,
         (CASE WHEN d >= 0 THEN 1 ELSE -1 END) * ((abs(d) * 1000) // r) AS score
  FROM dots JOIN rad ON cand = rad.label
),
pred AS (
  SELECT vec_id, true_label, cand AS pred_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cand ASC) AS rn
  FROM scored
)
SELECT true_label, pred_label::INT AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       true_label = pred_label AS is_correct
FROM pred WHERE rn = 1
GROUP BY true_label, pred.pred_label
"""


def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how much of the corpus exact
    dedup removes at each cluster size, and the chars reclaimed when the
    keep-best policy (min doc_id) drops the rest — the report that sizes
    a dedup pass before running it for real.

    Scale shape: one shuffle to fingerprint groups (min_by picks the
    keeper's chars in the same aggregate — no second pass), one tiny
    groupBy over the size histogram."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(dedup.tokens("text"))))
    )
    groups = (
        docs.select(fp.alias("fingerprint"), "doc_id", "n_chars")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum("n_chars").alias("total_chars"),
            F.min_by("n_chars", "doc_id").alias("keeper_chars"),
        )
    )
    return groups.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
        F.sum(F.col("sz") - 1).alias("n_removable"),
        F.sum(F.col("total_chars") - F.col("keeper_chars")).alias("chars_dropped"),
    )


DEDUP_SIZE_HIST_SQL = r"""
WITH g AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fingerprint,
         count(*) AS sz,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         arg_min(n_chars, doc_id) AS keeper_chars
  FROM documents GROUP BY 1
)
SELECT sz AS cluster_size, count(*) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS n_removable,
       CAST(sum(total_chars - keeper_chars) AS BIGINT) AS chars_dropped
FROM g GROUP BY 1
"""


# --- end-to-end dedup verdict ------------------------------------------------

def dedup_verdict_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone dedup decision a curation pipeline actually ships:
    every document labeled keep/drop with a reason and the doc it
    duplicates, by deterministic precedence over the three pair
    generators —
      1. ``exact``: not the min-id member of its normalized-fingerprint
         group (drops point at the group keeper),
      2. ``near_dup``: else, minhash near-dup (t=0.2) of some LOWER-id
         doc (greedy-by-id policy: the partner need not itself survive —
         the non-iterative approximation production passes use; an
         exact cluster treatment is ``dedup_keep_best``),
      3. ``contained``: else, ≥80% gram-contained in ANY other doc,
      4. ``keep`` otherwise.

    Scale shape: three bounded-candidate pair tables (each individually
    audited as its own query) left-join onto the corpus by id — no new
    shuffle shapes, just the composition; the verdict is one row per
    document."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))

    keepers = dedup.exact_dedup_groups(docs, "doc_id", "text", normalized=True)
    fp = dedup.normalized_fingerprint("text")
    exact = (
        docs.select(F.col("doc_id"), fp.alias("fingerprint"))
        .join(keepers.select("fingerprint", "keep_id"), "fingerprint")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.col("keep_id").alias("_exact_of"))
    )

    mh = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2,
        threshold=0.2, hashed=False,
    )
    near = (
        mh.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("_p"))
        .groupBy("doc_id")
        .agg(F.min("_p").alias("_near_of"))
    )

    cont = (
        dedup.containment_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
        .select(F.col("contained_id").alias("doc_id"), F.col("container_id").alias("_c"))
        .groupBy("doc_id")
        .agg(F.min("_c").alias("_cont_of"))
    )

    return (
        docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("_near_of").isNotNull(), F.lit("near_dup"))
            .when(F.col("_cont_of").isNotNull(), F.lit("contained"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.coalesce("_exact_of", "_near_of", "_cont_of").alias("dup_of"),
        )
    )


def _dedup_verdict_sql() -> str:
    from .extension_queries import _JACCARD_CTE

    jac_ctes = _JACCARD_CTE[len("WITH ") :]
    return f"""
WITH {jac_ctes},
keepers AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(lower(text), '\\s+'))), ' ')) AS fingerprint,
         min(doc_id) AS keep_id
  FROM documents GROUP BY 1
),
exact_drop AS (
  SELECT d.doc_id, k.keep_id AS exact_of
  FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
            regexp_split_to_array(lower(text), '\\s+'))), ' ')) AS fingerprint
        FROM documents) d
  JOIN keepers k USING (fingerprint)
  WHERE d.doc_id <> k.keep_id
),
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
mh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
near AS (
  SELECT c.id_b AS doc_id, min(c.id_a) AS near_of
  FROM mh_cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE j.jaccard >= 0.2
  GROUP BY 1
),
cont_pairs AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
cont AS (
  SELECT contained_id AS doc_id, min(container_id) AS cont_of
  FROM cont_pairs JOIN sz ON contained_id = sz.doc_id
  WHERE shared / sz.n::DOUBLE >= 0.8
  GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN e.exact_of IS NOT NULL THEN 'exact'
            WHEN nr.near_of IS NOT NULL THEN 'near_dup'
            WHEN c.cont_of IS NOT NULL THEN 'contained'
            ELSE 'keep' END AS verdict,
       coalesce(e.exact_of, nr.near_of, c.cont_of) AS dup_of
FROM documents d
LEFT JOIN exact_drop e ON d.doc_id = e.doc_id
LEFT JOIN near nr ON d.doc_id = nr.doc_id
LEFT JOIN cont c ON d.doc_id = c.doc_id
"""


DEDUP_VERDICT_SQL = _dedup_verdict_sql()


# --- corpus datacard ---------------------------------------------------------

def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, lang) summary grid a dataset release ships in its
    datacard: document and token counts, mean document length, exact-
    duplicate count (non-keeper members of global normalized-fingerprint
    groups), and the cell's distinct-token vocabulary size.

    Scale shape: three independent aggregations joined on the bounded
    (source, lang) grid — a per-doc projection feeding a grid groupBy, a
    fingerprint groupBy (the audited exact-dedup shuffle), and one
    token-explode count-distinct; the join keys are cell-cardinality, so
    the final join is broadcast at any corpus size."""
    from ..operators import derive

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        dedup.normalized_fingerprint("text").alias("_fp"),
        F.size(F.filter(dedup.tokens("text"), lambda t: t != ""))
        .cast("long")
        .alias("_nt"),
    )
    keepers = base.groupBy("_fp").agg(F.min("doc_id").alias("_keep"))
    flagged = base.join(keepers, "_fp")
    cells = flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        derive.portable_round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum((F.col("doc_id") != F.col("_keep")).cast("long")).alias("n_exact_dups"),
    )
    vocab = (
        docs.select(
            "source", "lang", F.explode(dedup.tokens("text")).alias("_t")
        )
        .filter(F.col("_t") != "")
        .groupBy("source", "lang")
        .agg(F.count_distinct("_t").alias("distinct_tokens"))
    )
    # LEFT join: a cell whose docs are all empty/whitespace has no vocab
    # row — it must still appear in the datacard (with 0 tokens), or the
    # grid stops partitioning the corpus
    return cells.join(vocab, ["source", "lang"], "left").withColumn(
        "distinct_tokens", F.coalesce("distinct_tokens", F.lit(0).cast("long"))
    )


CORPUS_DATACARD_SQL = r"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars,
         md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fp,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> ''))::BIGINT AS nt
  FROM documents
),
keepers AS (SELECT fp, min(doc_id) AS keep FROM base GROUP BY 1),
cells AS (
  SELECT source, lang,
         count(*)::BIGINT AS n_docs,
         sum(nt)::BIGINT AS n_tokens,
         floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars,
         sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)::BIGINT AS n_exact_dups
  FROM base JOIN keepers USING (fp)
  GROUP BY 1, 2
),
vocab AS (
  SELECT source, lang, count(DISTINCT t)::BIGINT AS distinct_tokens
  FROM (SELECT source, lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents)
  WHERE t <> ''
  GROUP BY 1, 2
)
SELECT c.*, coalesce(v.distinct_tokens, 0)::BIGINT AS distinct_tokens
FROM cells c LEFT JOIN vocab v USING (source, lang)
"""


# --- soft dedup (reweight instead of drop) -----------------------------------

def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, keep every
    document and down-weight each member of a near-dup cluster by
    1/cluster_size (exact integer basis points), so a cluster contributes
    one document's worth of sampling mass in total — the reweighting
    alternative to hard dedup that preserves distribution coverage.

    Singletons (docs in no near-dup pair) form their own cluster at full
    weight. Clusters are the audited connected components over the n-gram
    Jaccard pairs; weight_bp = 10000 DIV cluster_size is floor integer
    division on non-negative values — identical in Spark and DuckDB.

    Scale shape: the pair generator and min-label propagation are the
    audited bounded-candidate pipelines; on top there is one corpus-keyed
    left join, one cluster-sized groupBy, and one cluster-keyed join —
    all equi-joins on bounded keys."""
    return soft_dedup_weight_records(fan_out(load_table(spark, sf_dir, "documents")))


def soft_dedup_weight_records(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.2,
) -> DataFrame:
    """DataFrame-level core of ``soft_dedup_weights`` (property-tested
    against a union-find reference model on random corpora)."""
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col, text_col, k=k, threshold=threshold, reuse="checkpoint"
    )
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc.select(F.col("node").alias("doc_id"), "cluster"), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster"))
    )
    sizes = labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labeled.join(sizes, "cluster").select(
        "doc_id",
        "cluster",
        "cluster_size",
        F.expr("CAST(10000 DIV cluster_size AS BIGINT)").alias("weight_bp"),
    )


SOFT_DEDUP_SQL = f"""
WITH assigned AS ({DEDUP_CLUSTERS_SQL}),
labeled AS (
  SELECT d.doc_id, coalesce(a.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN assigned a USING (doc_id)
),
sizes AS (SELECT cluster, count(*)::BIGINT AS cluster_size FROM labeled GROUP BY 1)
SELECT doc_id, cluster, cluster_size,
       CAST(10000 // cluster_size AS BIGINT) AS weight_bp
FROM labeled JOIN sizes USING (cluster)
"""
