"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its pandas pipeline dedups nothing beyond
header names); these are the north-star extensions (SURVEY.md §7 module 10)
designed Spark-first for 100 TB corpora:

- exact dedup        — hash-groupBy on a normalized fingerprint; fully
                       distributed, one shuffle on the hash.
- n-gram Jaccard     — shingle explode → self-equi-join on shingle →
                       pair aggregation. Exact but O(sum df²) — the
                       quadratic baseline the sketches below replace.
- MinHash + LSH      — shingle→minhash signature→banded bucket join;
                       candidates are verified with true Jaccard. The
                       pair-generation join is on (band, bucket-hash), so
                       cost tracks true near-dup density, not n².
- SimHash            — per-token hash bits weighted ±1 → fingerprint;
                       near-dups = hamming ≤ k. Banding by fingerprint
                       prefix keeps the self-join from being n².

All hashing is md5-derived (``conv(substr(md5(x),1,8),16,10)``) so results
are engine-independent and reproducible in the DuckDB oracle. No UDFs —
every step is built-in expressions (codegen'd, Arrow-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic 32-bit universal-hash parameters: h_i(x) = (a_i*x + b_i) % P
MINHASH_PRIME = 4294967311  # first prime > 2^32


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for the i-th universal hash.

    a_i MUST be a large multiplier: with a small ``a`` (the old 2i+1
    family), ``a*x + b`` wraps P at most a handful of times, so the
    function is NEAR-MONOTONE on [0, P) and every "independent" hash
    picks the same argmin — the set's smallest raw element — collapsing
    the whole signature to one effective hash (found via a 0.956-Jaccard
    pair whose signatures agreed 0/8). md5-deriving a_i gives a
    well-mixed multiplier in [1, 2^30) (odd, so never 0); the 2^30 cap
    keeps ``a*x`` ≤ 2^30·(2^32+14) ≈ 4.6e18 safely inside int64 for any
    x < P — no overflow in Spark ANSI mode or DuckDB. b_i only shifts,
    so the cheap linear form stays."""
    import hashlib

    a = (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1073741824) | 1
    b = 7919 * i + 13
    return a, b


def md5_int(col: Column) -> Column:
    """First 8 hex chars of md5 as a bigint — stable across engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), r"\s+")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams ('a b c'); empty array when fewer than k words.

    Built by ``zip_with``-folding k-1 shifted copies of the token array
    (zip pads the short side with null; the trailing partial grams are
    sliced off). ~4× faster than the transform(sequence)+slice(k)
    formulation: one pass per shift instead of a per-position array copy,
    and no per-row sequence materialization.

    When the input is a plain column NAME the whole expression is built
    as one parsed SQL string (one py4j round trip instead of ~20 — the
    r10 plan-construction finding; identical Catalyst tree either way)."""
    if isinstance(text, str):
        w = f"split(lower({text}), '\\\\s+')"
        n = f"size({w})"
        grams = w
        for j in range(1, k):
            shifted = f"slice({w}, {j + 1}, greatest({n} - {j}, 0))"
            grams = f"zip_with({grams}, {shifted}, (a, b) -> concat_ws(' ', a, b))"
        full = f"slice({grams}, 1, greatest({n} - {k - 1}, 0))"
        return F.expr(
            f"array_distinct(CASE WHEN {n} >= {k} THEN {full} "
            f"ELSE CAST(array() AS array<string>) END)"
        )
    w = tokens(text)
    n = F.size(w)
    grams = w
    for j in range(1, k):
        shifted = F.slice(w, j + 1, F.greatest(n - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(0)))
    return F.array_distinct(
        F.when(n >= k, full).otherwise(F.array().cast("array<string>"))
    )


# rolling-polynomial base for composing token hashes into gram hashes;
# small enough that (MINHASH_PRIME-1) * SHINGLE_BASE stays well inside
# int64 (≈4.3e15), so the per-step mod never overflows in any engine
SHINGLE_BASE = 1_000_003


def hashed_word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram HASHES as a bigint array — the gram string is
    never materialized. Tokens are md5-hashed ONCE each; gram hashes
    compose by rolling polynomial ``g = (g * B + h_next) % P`` over the
    same zip_with-shift fold ``word_shingles`` uses, swapping per-element
    string concatenation + per-gram digests for integer arithmetic. Two
    32-bit gram sets collide with probability ~2⁻³² per pair — the same
    tolerance every md5-prefix step in this module already accepts.

    Equality of hashes ≡ equality of grams (modulo that collision bound),
    so Jaccard over hash sets is Jaccard over gram sets; DuckDB mirrors
    the composition bit-for-bit."""
    if isinstance(text, str):
        # single parsed expression — see word_shingles' py4j note
        w = f"split(lower({text}), '\\\\s+')"
        h = f"transform({w}, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"
        n = f"size({h})"
        grams = h
        for j in range(1, k):
            shifted = f"slice({h}, {j + 1}, greatest({n} - {j}, 0))"
            grams = (
                f"zip_with({grams}, {shifted}, "
                f"(g, nxt) -> (g * {SHINGLE_BASE} + nxt) % {MINHASH_PRIME}L)"
            )
        full = f"slice({grams}, 1, greatest({n} - {k - 1}, 0))"
        return F.expr(
            f"array_distinct(CASE WHEN {n} >= {k} THEN {full} "
            f"ELSE CAST(array() AS array<bigint>) END)"
        )
    w = tokens(text)
    h = F.transform(w, lambda t: md5_int(t))
    n = F.size(h)
    grams = h
    for j in range(1, k):
        shifted = F.slice(h, j + 1, F.greatest(n - j, F.lit(0)))
        grams = F.zip_with(
            grams, shifted, lambda g, nxt: (g * SHINGLE_BASE + nxt) % MINHASH_PRIME
        )
    full = F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(0)))
    return F.array_distinct(
        F.when(n >= k, full).otherwise(F.array().cast("array<bigint>"))
    )


def normalized_fingerprint(text: Column | str) -> Column:
    """Sorted-distinct-token md5 — catches reordered/whitespace-variant
    duplicates that byte-equality misses."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """Exact dedup: one row per distinct content fingerprint with the
    keeper id (min) and the duplicate count. One shuffle, fully scalable."""
    fp = normalized_fingerprint(text_col) if normalized else F.md5(F.col(text_col))
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, k)).alias("_s")
    )


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """(_id, _s) exploded shingles → (id_a, id_b, jaccard) for ids sharing
    ≥1 shingle. Equi-join on the shingle value; group on the pair."""
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("_shared") / (F.col("_na") + F.col("_nb") - F.col("_shared"))).alias(
                "jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    method: str = "prefix",
    reuse: str = "recompute",
) -> DataFrame:
    """Exact near-dup pairs by word-k-gram Jaccard ≥ threshold.

    ``method='prefix'`` (default) is the scale path: AllPairs/PPJoin-style
    prefix filtering (Bayardo et al., WWW'07). Under one global shingle
    order (document frequency ascending, then shingle value), a pair with
    Jaccard ≥ t MUST share a shingle inside both docs' prefixes of length
    ``|S| - ceil(t·|S|) + 1`` — so candidate generation joins ONLY on
    prefix shingles and the exact Jaccard verifies candidates. Lossless
    (identical output to the naive join, same oracle) but the join's hot
    keys are gone by construction: a doc's prefix keeps its RAREST
    shingles, so stopword grams (the df² cost) never generate candidates.

    ``method='allpairs'`` keeps the naive inverted-index join (cost
    Σ_shingle df²) as the small-SF cross-check baseline. Honest local
    measurement (sf0.1, t=0.2, no shingle skew): allpairs is ~3× FASTER
    (4.8s vs 13.2s warm) — at a low threshold the prefix keeps ~80% of
    shingles while paying two extra shuffles (df join + per-doc rank).
    Prefix is the default anyway because its advantage is the WORST case,
    not the average: candidate cost is bounded by prefix-shingle df², and
    a stopword gram only enters a doc's prefix when ~t·|S| of the doc's
    shingles are even more frequent — so corpus-scale hot keys cannot
    explode the join, which is the failure mode that matters at 100 TB.
    Pick allpairs for small selective corpora, prefix for scale/skew.

    ``max_shingle_df`` is the orthogonal skew guard: shingles appearing in
    more than that many documents are dropped from the UNIVERSE before
    anything else, and Jaccard is computed over the filtered universe
    (intersection and union shrink together — semantics change, use when
    stopword grams should not count as similarity at all).

    ``reuse`` mirrors ``minhash_lsh_pairs``: the per-doc shingle-set
    frame feeds several consumers (document frequencies, prefix ranking,
    candidate verify); 'recompute' (default) re-derives it per consumer —
    the scale-safe mode when the shingle frame (~k× the corpus) exceeds
    cluster storage — while 'checkpoint' localCheckpoints it so the
    shingle expression runs once (measured faster at bench SFs).
    """
    # Derive everything from the ARRAY-form shingle sets (r10): the old
    # formulation re-built the exploded table from raw text per consumer
    # AND paid a collect_set shuffle to re-assemble per-doc sets for the
    # verify step that shingle_sets already provides (guide §2.4: one
    # shuffle removed outright; §2.3: aggregate before you shuffle).
    ss = shingle_sets(df, id_col, text_col, k)
    if reuse == "checkpoint":
        ss = ss.localCheckpoint(eager=False)
    elif reuse != "recompute":
        raise ValueError(f"unknown reuse mode {reuse!r}")
    sh = ss.select("_id", F.explode("_sh").alias("_s"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_s")
        )
        sh = sh.join(hot, "_s", "left_anti")
        # the filtered universe invalidates ss's arrays/sizes — rebuild
        # per-doc sets from the filtered exploded table (pre-r10 shape)
        ss = sh.groupBy("_id").agg(
            F.collect_set("_s").alias("_sh"), F.count(F.lit(1)).alias("_n")
        )
    if method == "allpairs":
        return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")

    from pyspark.sql import Window

    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(dfreq, "_s")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_s"))
            ),
        )
        .join(ss.select("_id", "_n"), "_id")
    )
    # epsilon before ceil: when t·n is an exact integer the binary product
    # can land a hair ABOVE it (fl(t) > t), ceil then rounds up one too
    # high and the prefix comes out one short — a silent false negative
    # exactly at the Jaccard threshold boundary. 1e-9 is far below any
    # meaningful threshold granularity at realistic |S|.
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    ).select("_id", "_s")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # exact verify on candidate pairs only: set arrays stay inside rows
    # (ss IS the per-doc set frame — no collect_set re-aggregation)
    sets = ss
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        cand.join(sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), F.col("_n").alias("_na")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"), F.col("_n").alias("_nb")), "id_b")
        .withColumn("jaccard", inter / (F.col("_na") + F.col("_nb") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, hashed: bool = False
) -> DataFrame:
    """(_id, _sh, _n): the distinct word-k-gram set per doc as an ARRAY
    column plus its size. Pure projection — zero shuffle; the whole
    shingle set stays inside one row (docs are bounded, corpora are not,
    so this is the scale-safe orientation). Docs with fewer than k words
    are dropped (they have no shingles, mirroring the exploded form where
    they simply contribute no rows). ``hashed=True`` carries gram HASHES
    (bigint) instead of gram strings — see ``hashed_word_shingles``."""
    sh = hashed_word_shingles(text_col, k) if hashed else word_shingles(text_col, k)
    # Drop <k-word docs via the CHEAP equivalent predicate on the token
    # count, BEFORE the shingle projection. size(_sh) > 0 is exactly
    # size(tokens) >= k (n>=k tokens yield n-k+1 >= 1 grams; distinct of
    # a non-empty array is non-empty), but filtering on size(_sh) let
    # Catalyst inline the WHOLE shingle expression into a filter and push
    # it below an upstream fan_out exchange — evaluating the zip_with/
    # concat/array_distinct chain twice, once of those single-threaded in
    # the scan stage (r10 executed-plan audit; guide §4.4's duplicate-
    # evaluation trap, built-in-expression edition).
    return (
        df.filter(F.size(tokens(text_col)) >= F.lit(k))
        .select(F.col(id_col).alias("_id"), sh.alias("_sh"))
        .withColumn("_n", F.size("_sh"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    shingle_sets_df: DataFrame | None = None,
    hashed: bool = False,
) -> DataFrame:
    """(id, _m0.._m{n-1}) — min over shingle hashes per universal hash
    function, deterministic parameters from ``minhash_coeffs`` (md5-mixed
    large multipliers; see its docstring for why small ones break).

    Computed per-row as ``array_min(transform(shingles, h_i))`` over the
    shingle-set array: the signature needs NO shuffle at all (the exploded
    shingle→groupBy formulation shuffles the whole shingle table — strictly
    worse at any scale). With ``hashed=True`` the shingle sets already
    carry integer gram hashes (``hashed_word_shingles``) and feed the
    universal-hash transforms directly; otherwise string grams are md5'd
    ONCE here — either way no shingle is ever digested num_hashes times.
    (Measured at sf0.1: the hashing+minhash slice
    is ~5% of the pipeline; the real cost was always gram-STRING
    construction, which hashed=True eliminates at the source.)"""
    ss = (
        shingle_sets_df
        if shingle_sets_df is not None
        else shingle_sets(df, id_col, text_col, k, hashed=hashed)
    )
    # Expressions are built as single F.expr strings (r10): the Column-DSL
    # form cost ~15 py4j round-trips per hash function (lambda plumbing +
    # one trip per operator), ~1 ms each — measured at >1 s of pure
    # driver-side plan construction per dedup_minhash_lsh build. The SQL
    # parser produces the identical Catalyst tree in ONE round trip per
    # expression. Values are unchanged (same ops, same literals).
    if hashed:
        hashed_df = ss.select("_id", F.col("_sh").alias("_hs"))
    else:
        # mirrors md5_int: first 8 md5 hex chars as bigint, per gram, once
        hashed_df = ss.select(
            "_id",
            F.expr(
                "transform(_sh, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
            ).alias("_hs"),
        )

    mins = []
    for i in range(num_hashes):
        a, b = minhash_coeffs(i)
        mins.append(
            F.expr(
                f"array_min(transform(_hs, h -> ({a}L * h + {b}L) % {MINHASH_PRIME}L))"
            ).alias(f"_m{i}")
        )
    return hashed_df.select("_id", *mins)


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_sets_df: DataFrame | None = None,
    hashed: bool = True,
) -> DataFrame:
    """(_id, _band, _bh): one row per (doc, LSH band); band signature =
    md5 of the in-band minhashes in hash-index order. Built by exploding
    a literal array of per-band structs over the per-row signature — pure
    projection, no shuffle. Shared by the batch pipeline
    (``minhash_lsh_pairs``) and the streaming admission index
    (``streaming.jobs.foreach_batch_lsh_ingest``)."""
    sig = minhash_signatures(
        df, id_col, text_col, k, num_hashes, shingle_sets_df=shingle_sets_df, hashed=hashed
    )
    num_bands = num_hashes // band_size
    # one parsed expression for the whole per-band struct array (see the
    # py4j-chatter note in minhash_signatures) — same tree as the former
    # F.array(F.struct(F.lit(band), F.md5(F.concat_ws(...)))) chain
    structs = ", ".join(
        "struct({band} AS _band, md5(concat_ws(',', {cols})) AS _bh)".format(
            band=band,
            cols=", ".join(
                f"CAST(_m{band * band_size + j} AS STRING)" for j in range(band_size)
            ),
        )
        for band in range(num_bands)
    )
    band_structs = F.expr(f"array({structs})")
    return sig.select("_id", F.explode(band_structs).alias("_bs")).select(
        "_id", F.col("_bs._band").alias("_band"), F.col("_bs._bh").alias("_bh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    reuse: str = "recompute",
    hashed: bool = True,
    shingle_sets_df: DataFrame | None = None,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature → bands → bucket join
    → candidate pairs → verify with true Jaccard ≥ threshold.

    ``broadcast_candidates=True`` hints the candidate-pair table as the
    broadcast side of both verify joins. Default False (the scale-safe
    mode: candidates grow with near-dup density and a forced broadcast
    has an 8 GB cap), but when the caller knows the candidate set is
    small — bench SFs, bounded-dup corpora — it avoids the planner's
    static-estimate choice of broadcasting the shingle table (the K×
    LARGER side) twice: measured 0.2 s faster at sf0.1 (guide §3.1:
    broadcast the side that fits, chosen deliberately).

    ``hashed=True`` (default) runs the whole pipeline on integer gram
    hashes (``hashed_word_shingles``): signatures transform the int
    arrays directly and verification intersects int sets — gram strings
    are never built. Local wall clock, re-measured late r3 (interleaved
    A/B, 4 runs each in one session, sf0.1): the integer form is ~60%
    SLOWER end-to-end (2.33-2.45 s vs 1.48-1.74 s) — the per-token md5
    plus two polynomial zips cost more than string building saves at
    this scale (an earlier "neutral" reading did not hold up). Kept as
    default anyway for the scale argument, which is about BYTES, not
    local CPU: a gram set is 8 B/element instead of a ~25 B string, so
    the checkpointed/persisted shingle table, the verify-side arrays,
    and their comparisons shrink ~3× at any corpus size — the tradeoff
    that matters when shuffle/IO, not CPU, is the bottleneck. Bench-SF
    call sites that want local speed pass ``hashed=False`` (the
    registered ``dedup_minhash_lsh`` does).
    ``hashed=False`` keeps the original string-gram sets (exact gram
    identity, zero collision tolerance).

    The candidate join keys on (band, md5-of-band-signature): its size is
    the number of truly-colliding pairs — this is the 100 TB path (Jaccard
    is only ever computed for candidates).

    Shuffle budget: signatures are shuffle-free (array form), so the only
    shuffles are the band self-join, the candidate distinct, and the two
    id-equi-joins that verify candidates via ``array_intersect`` on the
    per-doc shingle sets — cost tracks near-dup density, never n².
    """
    # The shingle sets are read twice (signatures + candidate verify);
    # ``reuse`` picks how, because each strategy fails differently:
    # - 'recompute' (default): no caching — the shingle projection runs
    #   again on the verify branch. This is the 100 TB default on purpose:
    #   the shingle-set table is ~k× LARGER than the raw corpus, so
    #   materializing it (persist or checkpoint) needs more storage than
    #   the dataset itself, while recomputing is an embarrassingly
    #   parallel scan+projection. (Local-SF timings are version-dependent:
    #   Spark 4.0 measured recompute fastest; 4.1 measures localCheckpoint
    #   ~25% faster — call sites that know the data fits executor storage
    #   may pass 'checkpoint'. localCheckpoint races the ContextCleaner
    #   into harmless accumulator-warning log spam.)
    # - 'checkpoint': localCheckpoint — freed by the ContextCleaner when
    #   unreferenced (no session-lifetime cache leak), but blocks are NOT
    #   recomputable after executor loss.
    # - 'persist': lineage kept (executor-loss safe) but lives until the
    #   caller unpersists — leak-prone across repeated invocations.
    # A caller that ALSO needs the shingle sets (e.g. the estimate gate,
    # which attaches signatures built from them) passes shingle_sets_df
    # so the corpus is shingled once, not per consumer.
    ss = (
        shingle_sets_df
        if shingle_sets_df is not None
        else shingle_sets(df, id_col, text_col, k, hashed=hashed)
    )
    if reuse == "checkpoint":
        ss = ss.localCheckpoint(eager=False)
    elif reuse == "persist":
        ss = ss.persist()
    elif reuse != "recompute":
        raise ValueError(f"unknown reuse mode {reuse!r}")
    bands = minhash_band_table(
        df, id_col, text_col, k, num_hashes, band_size, shingle_sets_df=ss, hashed=hashed
    )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    if broadcast_candidates:
        candidates = F.broadcast(candidates)
    # verify ONLY candidate pairs: bring each side's shingle SET in by id
    # equi-join and intersect the arrays — no pair ever touches a shuffled
    # shingle table, so verification cost is |candidates|, not n².
    left = ss.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), F.col("_n").alias("_na")
    )
    right = ss.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"), F.col("_n").alias("_nb")
    )
    shared = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        candidates.join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            (shared / (F.col("_na") + F.col("_nb") - shared)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash): per-token md5 bits vote ±1 per position; the sign
    vector packs into a ``bits``-wide fingerprint. Distinct tokens only
    (set semantics, stable under token repetition)."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("_t"),
    ).withColumn("_h", md5_int(F.col("_t")))
    # all `bits` bit-votes as parallel aggregates of ONE groupBy (no
    # bit-position fan-out join), then pack the sign vector in a single
    # projection
    votes = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), p) % 2 == 1, 1).otherwise(-1)
            ).alias(f"_v{p}")
            for p in range(bits)
        ]
    )
    packed = None
    for p in range(bits):
        term = F.when(F.col(f"_v{p}") > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    return votes.select("_id", packed.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    prefix_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Blocking: candidates must share the top ``prefix_bits`` of the
    fingerprint (one rotation — multi-table rotations are the standard
    extension), so the self-join is per-block, not n². With prefix_bits=0
    this degrades to the exact quadratic comparison.
    """
    sig = simhash(df, id_col, text_col, bits)
    sig = sig.withColumn(
        "_blk", F.shiftright(F.col("simhash"), bits - prefix_bits) if prefix_bits else F.lit(0)
    )
    a = sig.alias("a")
    b = sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Cluster near-dup PAIRS into components: ``(node, cluster)`` where
    ``cluster`` is the component's minimum node id — the canonical doc a
    dedup pass keeps.

    Min-label propagation: every node starts labeled with itself; each
    round a node takes the min of its own and its neighbors' labels.
    Converges in O(component diameter) rounds — near-dup graphs are
    shallow (dups of a doc are dups of each other), so a handful of
    rounds in practice; ``max_iter`` bounds pathological chains.

    Scale shape: the driver loop is over ROUNDS, never rows — each round
    is one distributed join + min-aggregate, shuffling on the node id.
    ``localCheckpoint`` truncates lineage every round so the plan stays
    O(1) deep regardless of iteration count (on a cluster prefer
    reliable ``checkpoint`` with a checkpoint dir for fault tolerance).
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iter):
        nbr_label = (
            edges.join(labels, edges.b == labels.node)
            .select(F.col("a").alias("node"), F.col("label"))
        )
        new_labels = (
            nbr_label.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster"))


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection — the substring-dedup
    capability of Lee et al.'s suffix-array deduplication ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed in the
    shape Spark executes well: every word ``k``-gram occurring in
    ``min_docs``+ distinct documents seeds a duplicated position, and per
    document, consecutive flagged positions merge into maximal spans
    (an m-token verbatim overlap appears as one span of m-k+1 grams, the
    distributed analog of a maximal repeated substring).

    Scale shape: positional grams are one ``posexplode`` off the scan (no
    shuffle); cross-doc grams come from ONE gram-keyed distinct-count agg
    (map-side combined; no all-pairs self-join); flagged positions return
    via a gram-keyed equi-join of the two derived tables; run-merging is
    the classic gaps-and-islands window (``pos - row_number`` constant
    within a run) on the doc key. Driver state: none.

    Returns (id_col, span_start, span_end, span_tokens, n_grams).
    """
    from pyspark.sql import Window

    # Gram i is composed by a zip_with-shift fold (k-1 elementwise passes,
    # O(k·len)), NOT transform(sequence(0, n-k), i -> slice(tokens, i, k)):
    # in that form Catalyst collapses the split() projection into the
    # lambda and re-tokenizes the whole document once per position —
    # O(len²), a multi-minute stall on ~218k-char documents. The shifted
    # tails pad with null and concat_ws skips nulls, so the last k-1 grams
    # are short; the slice keeps only the n-k+1 full ones.
    w = tokens(text_col)
    n = F.size(w)
    grams = w
    for j in range(1, k):
        shifted = F.slice(w, j + 1, F.greatest(n - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.when(
        n >= k, F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(0)))
    ).otherwise(F.array().cast("array<string>"))
    pos_grams = df.select(
        F.col(id_col).alias("_id"), F.posexplode(full).alias("_pos", "_gram")
    )
    dup = (
        pos_grams.groupBy("_gram")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_gram")
    )
    flagged = pos_grams.join(dup, "_gram").select("_id", "_pos")
    run_w = Window.partitionBy("_id").orderBy("_pos")
    runs = flagged.withColumn("_rid", F.col("_pos") - F.row_number().over(run_w))
    return (
        runs.groupBy("_id", "_rid")
        .agg(
            F.min("_pos").cast("long").alias("span_start"),
            (F.max("_pos") + (k - 1)).cast("long").alias("span_end"),
            (F.max("_pos") - F.min("_pos") + k).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end", "span_tokens", "n_grams")
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    hashed: bool = True,
    reuse: str = "recompute",
) -> DataFrame:
    """Incremental near-dup admission — the PRODUCTION dedup shape: an
    incoming batch is checked against the EXISTING corpus, not against
    itself (``minhash_lsh_pairs`` is the one-shot self-join form; a
    pipeline ingesting continuously runs this instead, with the corpus
    band table maintained as an index — see
    ``streaming.jobs.foreach_batch_lsh_ingest`` for the streaming
    admission variant of the same idea).

    Candidates are (new-band ⋈ corpus-band) bucket collisions — an
    equi-join whose LEFT side is batch-sized, so cost tracks the batch,
    never the corpus squared; verification intersects the two sides'
    shingle sets per candidate. Returns (new_id, dup_of, jaccard ≥
    threshold).

    Each side's shingle sets feed BOTH its band build and the
    verification join; ``reuse`` picks the recompute/checkpoint/persist
    strategy exactly as in ``minhash_lsh_pairs`` (see the tradeoff note
    there — 'recompute' stays the 100 TB default because the shingle
    table is ~k× the corpus)."""
    ss_new = shingle_sets(new_df, id_col, text_col, k, hashed=hashed)
    ss_cor = shingle_sets(corpus_df, id_col, text_col, k, hashed=hashed)
    if reuse == "checkpoint":
        ss_new = ss_new.localCheckpoint(eager=False)
        ss_cor = ss_cor.localCheckpoint(eager=False)
    elif reuse == "persist":
        ss_new = ss_new.persist()
        ss_cor = ss_cor.persist()
    elif reuse != "recompute":
        raise ValueError(f"unknown reuse mode {reuse!r}")
    bn = minhash_band_table(
        new_df, id_col, text_col, k, num_hashes, band_size,
        shingle_sets_df=ss_new, hashed=hashed,
    )
    bc = minhash_band_table(
        corpus_df, id_col, text_col, k, num_hashes, band_size,
        shingle_sets_df=ss_cor, hashed=hashed,
    )
    candidates = (
        bn.alias("a")
        .join(
            bc.alias("b"),
            (F.col("a._band") == F.col("b._band")) & (F.col("a._bh") == F.col("b._bh")),
        )
        .select(F.col("a._id").alias("new_id"), F.col("b._id").alias("dup_of"))
        .distinct()
    )
    left = ss_new.select(
        F.col("_id").alias("new_id"), F.col("_sh").alias("_sha"), F.col("_n").alias("_na")
    )
    right = ss_cor.select(
        F.col("_id").alias("dup_of"), F.col("_sh").alias("_shb"), F.col("_n").alias("_nb")
    )
    shared = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        candidates.join(left, "new_id")
        .join(right, "dup_of")
        .select(
            "new_id",
            "dup_of",
            (shared / (F.col("_na") + F.col("_nb") - shared)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directed near-containment pairs: |A∩B| / |A| ≥ threshold over word
    k-gram shingle sets — the "document A is mostly a snippet of B"
    detector. Jaccard-based near-dup structurally MISSES this case (a
    small doc fully inside a big one has Jaccard |A|/|B| → 0), which is
    why corpus pipelines run containment as its own pass to drop quoted
    excerpts and boilerplate-wrapped copies.

    Scale shape: the probe side joins only each doc's PREFIX shingles —
    under any fixed global order (df ascending here, so prefixes hold
    the RAREST grams), a pair with overlap ≥ ⌈t·|A|⌉ must share one of
    A's first |A| - ⌈t·|A|⌉ + 1 shingles (any-subset argument; lossless
    for exact verification). At t = 0.8 the probe carries ~20% of the
    shingle table. The index side needs FULL postings (the shared gram
    can sit anywhere in B's order, and B's own prefix bound degrades to
    |B| when A is small), so ``max_shingle_df`` is the hot-gram guard to
    set at corpus scale. Exact containment verifies candidates via
    per-row set intersection — no pair ever touches a shuffled shingle
    table."""
    from pyspark.sql import Window

    # per-doc shingle SETS come from the zero-shuffle projection (the
    # same orientation minhash verification uses); the exploded postings
    # derive from it, so the arrays the verify step needs are never
    # rebuilt via a collect_set shuffle of the shingle table. Only the
    # max_shingle_df branch — which changes the universe — reassembles
    # filtered arrays.
    ss = shingle_sets(df, id_col, text_col, k)
    sh = ss.select("_id", F.explode("_sh").alias("_s"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_s")
        )
        sh = sh.join(hot, "_s", "left_anti")
        sets = sh.groupBy("_id").agg(
            F.collect_set("_s").alias("_sh"), F.count(F.lit(1)).alias("_n")
        )
    else:
        sets = ss
    sizes = sets.select("_id", "_n")
    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(dfreq, "_s")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_s"))
            ),
        )
        .join(sizes, "_id")
    )
    # same epsilon-before-ceil rationale as ngram_jaccard_pairs: an exact
    # t·n landing a hair high would silently shorten the prefix
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    ).select("_id", "_s")
    cand = (
        prefix.alias("a")
        .join(sh.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") != F.col("b._id")))
        .select(F.col("a._id").alias("contained_id"), F.col("b._id").alias("container_id"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        cand.join(
            sets.select(
                F.col("_id").alias("contained_id"), F.col("_sh").alias("_sha"),
                F.col("_n").alias("_na"),
            ),
            "contained_id",
        )
        .join(
            sets.select(
                F.col("_id").alias("container_id"), F.col("_sh").alias("_shb"),
            ),
            "container_id",
        )
        .withColumn("containment", inter / F.col("_na"))
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )
