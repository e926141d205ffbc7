"""Round-8 wave-15 additions: corpus and eval-suite completions —

* per-source vocabulary richness (Chao1 + Good-Turing) — the corpus
  coverage estimate a data-mixture planner reads before scaling a
  source up: hapax/dis-legomena counts, the bias-corrected Chao1
  species estimate (how much vocabulary is UNSEEN?) and the
  Good-Turing unseen probability mass f1/N, all exact rationals;
* Kruskal-Wallis rank test across event types — the k-group extension
  of mann_whitney_value_test (MW-U compares two cohorts; KW asks
  whether ANY of k groups stochastically dominates), exact
  tie-corrected integer midranks over the bounded value domain;
* McNemar's paired test of the n-gram language detector against the
  fixed majority-class baseline — the PAIRED eval
  langid_eval_confusion can't do (accuracy alone can't say whether
  the detector beats a constant guess ON THE SAME DOCUMENTS;
  McNemar's discordant-pair test can), exact integer counts;
* centroid silhouette of the labeled embedding clustering — the
  internal clustering-quality companion of
  emb_centroid_classifier_eval (the classifier eval needs labels to
  score predictions; silhouette scores the GEOMETRY: does each
  vector sit closer to its own centroid than to any other?), exact
  integer squared distances on the fixed-point grid.

House rules as in round8..round11_queries: scalar outputs, counts as
long, floor-form integer scalings, integer division only on
non-negative operands (sign-split CASE where a difference can be
negative), decimal(38,0)/HUGEINT for wide products, no runtime
transcendentals, fixed-shape floor(1e6·expr) doubles where a final
statistic is irreducibly real-valued (the did_e6 precedent), NULLs
excluded by mirrored filters, degenerate cells via mirrored CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import textops
from ..operators.derive import CENTS_SQL, cents
from ..session import fan_out, load_table
from .extension_queries import _LANGID_CASE, _ratio_sql

# --- per-source vocabulary richness (Chao1 + Good-Turing) -----------------------


def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness: observed vocabulary V, hapax
    (f1) and dis-legomena (f2) counts, the bias-corrected Chao1
    species-richness estimate V + f1·(f1−1)/(2·(f2+1)) — how much
    vocabulary the source has NOT yet shown — and the Good-Turing
    unseen-mass estimate f1/N (the probability the next token is a
    new type). The data-mixture planner's coverage signal: a source
    whose Chao1 far exceeds V rewards more sampling; one whose unseen
    mass is near zero is exhausted.

    Exactness: all counts are exact integers off one (source, token)
    aggregate; Chao1 is emitted ×100 with its correction as one
    non-negative integer division (the +1 in the denominator is the
    standard bias-corrected form — also div-by-zero-proof when
    f2 = 0); the Good-Turing mass is basis points by integer
    division. The tokenizer is the corpus convention
    split(lower(text), '\\s+') — empty text yields one empty-string
    token in BOTH engines, a documented property of the convention.

    Scale shape: one token explode + (source, token) shuffle (the
    tf-idf/vocab class — the only data-sized work), then a
    vocabulary-bounded per-source roll-up; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    tt = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("_tok")
        )
        .groupBy("source", "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_source = tt.groupBy("source").agg(
        F.count(F.lit(1)).alias("_v"),
        F.sum("_c").alias("_n"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("_f1"),
        F.sum(F.when(F.col("_c") == 2, 1).otherwise(0)).alias("_f2"),
    )
    return per_source.select(
        "source",
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("_v").cast("long").alias("vocab_size"),
        F.col("_f1").cast("long").alias("f1_hapax"),
        F.col("_f2").cast("long").alias("f2_dis"),
        F.expr(
            "CAST(100 * _v + (100 * CAST(_f1 AS DECIMAL(38,0)) * (_f1 - 1))"
            " div (2 * (_f2 + 1)) AS BIGINT)"
        ).alias("chao1_x100"),
        F.expr("CAST((10000 * _f1) div _n AS BIGINT)").alias("gt_unseen_bp"),
    )


CHAO1_SQL = r"""
WITH tt AS (
  SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
cnt AS (SELECT source, tok, count(*) AS c FROM tt GROUP BY 1, 2),
per_source AS (
  SELECT source, count(*) AS v, sum(c) AS n,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM cnt GROUP BY 1
)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(v AS BIGINT) AS vocab_size,
       CAST(f1 AS BIGINT) AS f1_hapax,
       CAST(f2 AS BIGINT) AS f2_dis,
       CAST(100 * v + (100 * CAST(f1 AS HUGEINT) * (f1 - 1))
            // (2 * (f2 + 1)) AS BIGINT) AS chao1_x100,
       CAST((10000 * f1) // n AS BIGINT) AS gt_unseen_bp
FROM per_source
"""


# --- Kruskal-Wallis rank test across event types ---------------------------------


def kruskal_wallis_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of the event-value distributions across
    event types — the k-group extension of mann_whitney_value_test:
    does ANY type's value distribution stochastically dominate? Uses
    pooled tie-corrected midranks over the distinct-cents value
    domain.

    Exactness: doubled midranks are exact integers (the MW-U identity
    rank2(v) = 2·cum_before + cnt_v + 1); per-group doubled rank sums
    R_g_x2 are exact; the statistic folds the FLOORED group terms
    S = Σ_g (R_g_x2² div n_g) — each term one non-negative integer
    division in decimal(38,0)/HUGEINT, so both engines fold identical
    integers (the floored-S statistic is the documented one; the floor
    loses < k against magnitudes of N²). H = 3·S/(N(N+1)) − 3(N+1) —
    the doubled ranks make S/4 = Σ R_g²/n_g, absorbing 12/4 = 3 (hand
    oracle: values {1,2,3} in 3 singleton groups → H = 2, reproduced) —
    and the tie-corrected H' = H·(N³−N)/((N³−N) − ΣT) are fixed-shape
    doubles over those exact integers, floored at e6 (the did_e6
    precedent). Degenerate — fewer than 2 groups, N < 2, or all values
    tied ((N³−N) = ΣT) — emits NULL via mirrored CASE.

    Scale shape: one groupBy to the (value, type) frame bounded by the
    distinct-cents domain × |types| (the mann_whitney justification);
    the rank window runs over the value domain, never the events; the
    1-row tie-term frame attaches broadcast (whitelisted)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    pvt = ev.groupBy(
        cents("value").alias("_v"), F.col("event_type").alias("_g")
    ).agg(F.count(F.lit(1)).alias("_c"))
    per_v = pvt.groupBy("_v").agg(F.sum("_c").alias("_cv"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "_v",
        (
            2 * F.coalesce(F.sum("_cv").over(w), F.lit(0))
            + F.col("_cv")
            + F.lit(1)
        ).alias("_rank2"),
        (
            F.col("_cv").cast("decimal(38,0)") * F.col("_cv") * F.col("_cv")
            - F.col("_cv")
        ).alias("_t3t"),
    )
    groups = (
        pvt.join(ranked.select("_v", "_rank2"), "_v")
        .groupBy("_g")
        .agg(
            F.sum("_c").alias("_ng"),
            F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_rank2")).alias(
                "_rx2"
            ),
        )
    )
    # floor(rx2²/n) via the EXACT decomposition (rx2 div n)·rx2 +
    # ((rx2 mod n)·rx2) div n — the direct (rx2·rx2) div n form overflows
    # int64 at the 100-copy stress decade because Spark `div` returns
    # BIGINT while rx2²/n reaches ~10²³ (DuckDB's HUGEINT `//` survives,
    # an engine-crash asymmetry caught by weak-scaling); the identity is
    # exact, and the largest intermediate, (rx2 % ng)·rx2 ~ ng·rx2 ~
    # 2·N³, stays inside decimal(38,0)/HUGEINT up to N ≈ 3.7e12 events
    # (~17 decades past the tested sf100, but BELOW an unfiltered
    # 100 TB-of-events row count — past that bound Spark non-ANSI would
    # return silent NULL; a third-level decomposition of rx2 before the
    # multiply would extend it if that scale is ever certified).
    term = (
        "CAST(_rx2 div _ng AS DECIMAL(38,0)) * _rx2"
        " + (CAST(_rx2 % _ng AS DECIMAL(38,0)) * _rx2) div _ng"
    )
    gagg = groups.agg(
        F.sum("_ng").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.expr(term)).alias("_s"),
    )
    ties = ranked.agg(F.sum("_t3t").alias("_tsum"))
    both = gagg.crossJoin(F.broadcast(ties))
    h = (
        "floor(1000000.0 * (3.0 * CAST(_s AS DOUBLE) / _n / (_n + 1)"
        " - 3.0 * (_n + 1)))"
    )
    corr = "CAST(_n AS DECIMAL(38,0)) * _n * _n - _n"
    return both.select(
        F.col("_n").cast("long").alias("n_total"),
        F.col("_k").cast("long").alias("k_groups"),
        F.expr(
            f"CASE WHEN _n >= 2 AND _k >= 2 THEN CAST({h} AS BIGINT) END"
        ).alias("h_e6"),
        F.expr(
            f"CASE WHEN _n >= 2 AND _k >= 2 AND ({corr}) > _tsum THEN"
            f" CAST(floor(CAST({h} AS DOUBLE)"
            f" * CAST({corr} AS DOUBLE) / CAST(({corr}) - _tsum AS DOUBLE))"
            " AS BIGINT) END"
        ).alias("h_corr_e6"),
    )


KRUSKAL_SQL = f"""
WITH pvt AS (
  SELECT {CENTS_SQL.format(x="value")} AS v, event_type AS g, count(*) AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
per_v AS (SELECT v, sum(c) AS cv FROM pvt GROUP BY 1),
ranked AS (
  SELECT v,
         2 * coalesce(sum(cv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cv + 1 AS rank2,
         CAST(cv AS HUGEINT) * cv * cv - cv AS t3t
  FROM per_v
),
groups AS (
  SELECT g, sum(c) AS ng, sum(CAST(c AS HUGEINT) * rank2) AS rx2
  FROM pvt JOIN ranked USING (v) GROUP BY 1
),
gagg AS (
  -- mirrored exact floor decomposition (see the Spark side): equal to
  -- floor(rx2²/ng) by the division identity, headroom-safe both sides
  SELECT sum(ng) AS n, count(*) AS k,
         sum((rx2 // ng) * rx2 + ((rx2 % ng) * rx2) // ng) AS s
  FROM groups
),
ties AS (SELECT sum(t3t) AS tsum FROM ranked)
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_groups,
       CASE WHEN n >= 2 AND k >= 2 THEN
         CAST(floor(1000000.0 * (3.0 * CAST(s AS DOUBLE) / n / (n + 1)
              - 3.0 * (n + 1))) AS BIGINT) END AS h_e6,
       CASE WHEN n >= 2 AND k >= 2
                 AND (CAST(n AS HUGEINT) * n * n - n) > tsum THEN
         CAST(floor(CAST(floor(1000000.0 * (3.0 * CAST(s AS DOUBLE)
                / n / (n + 1) - 3.0 * (n + 1))) AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)
              / CAST((CAST(n AS HUGEINT) * n * n - n) - tsum AS DOUBLE))
              AS BIGINT) END AS h_corr_e6
FROM gagg CROSS JOIN ties
"""


# --- McNemar's test: n-gram detector vs majority-class baseline ------------------

#: χ²₁ critical value at α = 0.05 (plan-build literal), e6-scaled
MCNEMAR_CRIT_E6 = 3_841_459


def mcnemar_langid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test of the n-gram language detector against
    the fixed majority-class baseline (predict 'en' always — the
    documented constant prior): on the SAME documents, b = docs only
    the detector gets right, c = docs only the baseline gets right,
    χ² = (b−c)²/(b+c). langid_eval_confusion reports the error
    structure; this answers the inference question a model gate needs
    — is the detector actually better than a constant guess, or is
    its accuracy edge within discordant-pair noise?

    Exactness: counts are exact integers from one scan; (b−c)² is a
    non-negative exact integer (square), so the e6-scaled χ² is ONE
    non-negative integer division in decimal(38,0)/HUGEINT; the
    significance flag compares against the χ²₁ literal. b + c = 0
    (no discordant pairs) emits NULL χ² and NULL verdict via mirrored
    CASE.

    Scale shape: one map-side scan (the langid profile ratios), one
    ungrouped 1-row aggregate — nothing after the scan is data-sized."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    det_ok = textops.detect_language("text") == F.col("lang")
    base_ok = F.col("lang") == F.lit("en")
    agg = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(det_ok & base_ok, 1).otherwise(0)).alias("_n11"),
        F.sum(F.when(~det_ok & ~base_ok, 1).otherwise(0)).alias("_n00"),
        F.sum(F.when(det_ok & ~base_ok, 1).otherwise(0)).alias("_b"),
        F.sum(F.when(~det_ok & base_ok, 1).otherwise(0)).alias("_c"),
    )
    chi = F.expr(
        "CASE WHEN _b + _c > 0 THEN"
        " CAST((1000000 * CAST(_b - _c AS DECIMAL(38,0)) * (_b - _c))"
        " div (_b + _c) AS BIGINT) END"
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_docs"),
        F.col("_n11").cast("long").alias("both_right"),
        F.col("_n00").cast("long").alias("both_wrong"),
        F.col("_b").cast("long").alias("det_only_right"),
        F.col("_c").cast("long").alias("base_only_right"),
        chi.alias("mcnemar_chi2_e6"),
        F.when(
            chi.isNotNull(),
            F.when(
                (chi >= MCNEMAR_CRIT_E6) & (F.col("_b") > F.col("_c")), 1
            ).otherwise(0),
        )
        .cast("long")
        .alias("det_signif_better"),
    )


MCNEMAR_SQL = rf"""
WITH r AS (
  SELECT lang,
         {_ratio_sql(textops.LANG_PROFILES['en'])} AS r_en,
         {_ratio_sql(textops.LANG_PROFILES['es'])} AS r_es,
         {_ratio_sql(textops.LANG_PROFILES['de'])} AS r_de,
         {_ratio_sql(textops.LANG_PROFILES['fr'])} AS r_fr
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
p AS (
  SELECT lang = ({_LANGID_CASE}) AS det_ok, lang = 'en' AS base_ok FROM r
),
agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN det_ok AND base_ok THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN NOT det_ok AND NOT base_ok THEN 1 ELSE 0 END) AS n00,
         sum(CASE WHEN det_ok AND NOT base_ok THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN NOT det_ok AND base_ok THEN 1 ELSE 0 END) AS c
  FROM p
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 AS BIGINT) AS both_right,
       CAST(n00 AS BIGINT) AS both_wrong,
       CAST(b AS BIGINT) AS det_only_right,
       CAST(c AS BIGINT) AS base_only_right,
       CASE WHEN b + c > 0 THEN
         CAST((1000000 * CAST(b - c AS HUGEINT) * (b - c)) // (b + c)
              AS BIGINT) END AS mcnemar_chi2_e6,
       CAST(CASE WHEN b + c > 0 THEN
              CASE WHEN (1000000 * CAST(b - c AS HUGEINT) * (b - c)) // (b + c)
                        >= {MCNEMAR_CRIT_E6} AND b > c
                   THEN 1 ELSE 0 END
            END AS BIGINT) AS det_signif_better
FROM agg
"""


# --- centroid silhouette of the labeled embedding clustering ---------------------

#: fixed-point quantizer shared with the PCA / centroid-classifier suite
SIL_DIM = 64
SIL_SCALE = 1000


def emb_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette of the labeled embedding clustering: per
    vector, a = squared distance to its OWN label centroid, b = the
    minimum squared distance to any OTHER label centroid, silhouette
    s = (b − a)/max(a, b) — the internal clustering-quality statistic
    (the "simplified silhouette" of Hruschka et al., centroid-based
    so it needs no pairwise O(n²) distances). The geometry companion
    of emb_centroid_classifier_eval: the classifier eval scores
    predictions against labels; this scores how SEPARATED the label
    clusters are at all.

    Exactness: vectors ride the fixed-point grid (floor(v·1000+0.5));
    centroids are FLOORED-toward-zero integer means of the exact
    per-label component sums (sign-adjusted integer division — the
    centroid-classifier pattern; the floored centroid is the
    documented center), fitted driver-side from one bounded
    label×dim moment aggregate and interpolated into BOTH engines as
    integer literals; squared distances are exact int64; the
    silhouette is sign-split into two non-negative integer divisions
    (basis points). A corpus with a single label has no "other"
    centroid: b is NULL and the silhouette NULL via mirrored CASE
    (count(s) then counts 0 such rows in both engines).

    Scale shape: the fit is ONE distributed moment aggregation
    (label×dim rows — driver state is the L·d centroid table, the
    k-means fit/probe precedent); scoring is a second map-only scan
    against the broadcast centroid literals; output is |labels| rows.

    Duplicate-PK precondition (pinned in EXPECTED_DIVERGENCES[dupes]):
    the oracle's per-vec_id distance grouping collapses duplicated
    vectors while this map-side operator scores each physical row —
    the emb_centroid/emb_knn adjudication class."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    )
    d, scale = SIL_DIM, SIL_SCALE
    qexpr = (
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {scale}"
        " + 0.5) AS BIGINT))"
    )
    qd = emb.withColumn("_q", F.expr(qexpr))
    moments = (
        qd.select("label", F.posexplode("_q").alias("_i", "_qv"))
        .groupBy("label", "_i")
        .agg(F.sum("_qv").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("sum_s_bp", T.LongType()),
            T.StructField("mean_s_bp", T.LongType()),
        ]
    )
    if not moments:  # no labeled vectors -> empty result, declared schema
        return spark.createDataFrame([], out_schema)
    labels = sorted({r["label"] for r in moments})
    cen: dict[int, list[int]] = {}
    for lab in labels:
        n_c = next(r["_n"] for r in moments if r["label"] == lab)
        s = {r["_i"]: r["_s"] for r in moments if r["label"] == lab}
        cen[lab] = [
            (1 if s[i] >= 0 else -1) * (abs(s[i]) // n_c) for i in range(d)
        ]
    d2_structs = []
    for lab in labels:
        lits = ", ".join(f"{x}L" for x in cen[lab])
        d2 = (
            f"aggregate(zip_with(_q, array({lits}), (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, v) -> acc + v)"
        )
        d2_structs.append(f"named_struct('lab', {lab}, 'd2', {d2})")
    arr = f"array({', '.join(d2_structs)})"
    own = f"filter({arr}, e -> e.lab = label)[0].d2"
    other = f"array_min(transform(filter({arr}, e -> e.lab != label), e -> e.d2))"
    s_bp = (
        f"CASE WHEN ({other}) IS NULL THEN NULL"
        f" WHEN ({other}) >= ({own}) THEN"
        f" ((({other}) - ({own})) * 10000) div greatest({other}, 1)"
        f" ELSE -(((({own}) - ({other})) * 10000) div greatest({own}, 1)) END"
    )
    scored = qd.select("label", F.expr(s_bp).alias("_s_bp"))
    return scored.groupBy("label").agg(
        F.count("_s_bp").cast("long").alias("n_vecs"),
        F.coalesce(F.sum("_s_bp"), F.lit(0)).cast("long").alias("sum_s_bp"),
        F.expr(
            "CASE WHEN count(_s_bp) > 0 THEN"
            " CAST(floor(CAST(sum(_s_bp) AS DOUBLE) / count(_s_bp) + 0.5)"
            " AS BIGINT) END"
        ).alias("mean_s_bp"),
    )


#: the oracle fits the SAME floored integer centroids in pure SQL (the
#: CENTROID_EVAL_SQL precedent): exact integer moments make the fit
#: reproducible from either engine's scan, so the Spark side's
#: driver-fitted literals and the SQL cen CTE hold identical integers.
SILHOUETTE_SQL = f"""
WITH q AS (
  SELECT vec_id, label, i,
         CAST(floor(embedding[i + 1]::DOUBLE * {SIL_SCALE} + 0.5) AS BIGINT)
           AS qv
  FROM embeddings, range({SIL_DIM}) t(i)
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
mo AS (
  SELECT label, i, CAST(sum(qv) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM q GROUP BY 1, 2
),
cen AS (
  SELECT label AS clab, i,
         (CASE WHEN s >= 0 THEN 1 ELSE -1 END) * (abs(s) // n) AS c
  FROM mo
),
d2 AS (
  SELECT q.vec_id, q.label, cen.clab,
         CAST(sum((q.qv - cen.c) * (q.qv - cen.c)) AS BIGINT) AS dd
  FROM q JOIN cen USING (i)
  GROUP BY 1, 2, 3
),
ab AS (
  SELECT vec_id, label,
         max(CASE WHEN clab = label THEN dd END) AS a,
         min(CASE WHEN clab <> label THEN dd END) AS b
  FROM d2 GROUP BY 1, 2
),
s AS (
  SELECT label,
         CASE WHEN b IS NULL THEN NULL
              WHEN b >= a THEN ((b - a) * 10000) // greatest(b, 1)
              ELSE -(((a - b) * 10000) // greatest(a, 1)) END AS s_bp
  FROM ab
)
SELECT label,
       CAST(count(s_bp) AS BIGINT) AS n_vecs,
       CAST(coalesce(sum(s_bp), 0) AS BIGINT) AS sum_s_bp,
       CASE WHEN count(s_bp) > 0 THEN
         CAST(floor(CAST(sum(s_bp) AS DOUBLE) / count(s_bp) + 0.5) AS BIGINT)
       END AS mean_s_bp
FROM s GROUP BY 1
"""
