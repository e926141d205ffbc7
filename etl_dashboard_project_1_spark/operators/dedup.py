"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its pandas pipeline dedups nothing beyond
header names); these are the north-star extensions (SURVEY.md §7 module 10)
designed Spark-first for 100 TB corpora:

- exact dedup        — hash-groupBy on a normalized fingerprint; fully
                       distributed, one shuffle on the hash.
- n-gram Jaccard     — exact: prefix-filtered shingle join (or the naive
                       O(sum df²) all-pairs join) → candidate verify.
- MinHash + LSH      — shingle→minhash signature→banded bucket join, so
                       cost tracks true near-dup density, not n².
- SimHash            — per-token hash bits weighted ±1 → fingerprint;
                       near-dups = hamming ≤ k. Banding by fingerprint
                       prefix keeps the self-join from being n².

Every Jaccard pipeline verifies its candidates the same way
(``verified_pairs``: each side's shingle set joined in by id, exact set
intersection).

All hashing is md5-derived (``conv(substr(md5(x),1,8),16,10)``) so results
are engine-independent and reproducible in the DuckDB oracle. No UDFs —
every step is built-in expressions (codegen'd, Arrow-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sqltext

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


def gram_fold(tokens: str, k: int, combine: str) -> str:
    """SQL text: the n-k+1 full k-grams of the token array ``tokens`` (SQL
    text), each folded left to right by ``combine``, a SQL lambda over
    (gram so far, next token).

    Built by ``zip_with``-folding k-1 shifted copies of the array: one
    pass per shift, O(k·len). zip pads the short side with null, so the
    last k-1 grams are partial and the slice keeps only the full ones. Not
    ``transform(sequence(0, n-k), i -> slice(tokens, i, k))``: in that form
    Catalyst collapses the split() projection into the lambda and
    re-tokenizes the whole document once per position, O(len²), a
    multi-minute stall on ~218k-char documents."""
    n = f"size({tokens})"
    grams = tokens
    for j in range(1, k):
        shifted = f"slice({tokens}, {j + 1}, greatest({n} - {j}, 0))"
        grams = f"zip_with({grams}, {shifted}, {combine})"
    return f"slice({grams}, 1, greatest({n} - {k - 1}, 0))"


#: ``gram_fold`` combine for word grams: 'a b c'
JOIN_WORDS = "(a, b) -> concat_ws(' ', a, b)"


def _word_array(text_col: str) -> str:
    """SQL text of ``tokens(text_col)``."""
    return f"split(lower({sqltext.ident(text_col)}), '\\\\s+')"


def _word_grams(text_col: str, k: int) -> str:
    """SQL text: the word k-grams of a column; empty when fewer than k."""
    w = _word_array(text_col)
    return (
        f"CASE WHEN size({w}) >= {k} THEN {gram_fold(w, k, JOIN_WORDS)} "
        "ELSE CAST(array() AS array<string>) END"
    )


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-grams ('a b c') of a column; empty array when fewer
    than k words. One parsed SQL expression (one Py4J round trip)."""
    return F.expr(f"array_distinct({_word_grams(text_col, k)})")


def normalized_fingerprint(text: Column | str) -> Column:
    """Sorted-distinct-token md5 — catches reordered/whitespace-variant
    duplicates that byte-equality misses."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct ``normalized_fingerprint`` with
    the keeper id (min) and the duplicate count. One shuffle, fully
    scalable."""
    return (
        df.withColumn("fingerprint", normalized_fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
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


def _shared_sets(ss: DataFrame, reuse: str) -> DataFrame:
    """The per-doc shingle-set frame that several branches of one plan
    read. 'recompute' re-derives it per branch: the scale-safe mode when
    the shingle table (~k× the corpus) exceeds cluster storage, since
    re-shingling is an embarrassingly parallel scan+projection.
    'checkpoint' localCheckpoints it so the shingle expression runs once
    (Spark 4.1 measures it ~25% faster at bench SFs); the ContextCleaner
    frees it when unreferenced, but its blocks are not recomputable after
    executor loss."""
    if reuse == "checkpoint":
        return ss.localCheckpoint(eager=False)
    if reuse != "recompute":
        raise ValueError(f"unknown reuse mode {reuse!r}")
    return ss


def _prefix_postings(sh: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(_id, _s): each doc's PREFIX shingles out of the postings ``sh``
    (_id, _s), given set sizes (_id, _n). Under one global order (document
    frequency ascending, then shingle), a doc whose overlap with another
    set must reach ⌈t·|S|⌉ shares one of its first |S| - ⌈t·|S|⌉ + 1
    shingles with it, so joining prefixes alone loses no verified pair.
    Prefixes hold the RAREST shingles: stopword grams seldom enter."""
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
    # epsilon before ceil: when t·n is an exact integer the binary product
    # can land a hair ABOVE it (fl(t) > t), ceil then rounds up one too
    # high and the prefix comes out one short — a silent false negative
    # exactly at the threshold boundary. 1e-9 is far below any
    # meaningful threshold granularity at realistic |S|.
    return ranked.filter(
        F.col("_rn")
        <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    ).select("_id", "_s")


def _verify(
    cand: DataFrame, a: str, sets_a: DataFrame, b: str, sets_b: DataFrame,
    name: str, metric, threshold: float,
) -> DataFrame:
    """(a, b, name) for the candidate pairs ``cand`` whose metric(|A∩B|)
    is ≥ threshold. Each side's set and size (_sha, _na, _shb, _nb) come
    in by id equi-join, so verification costs |candidates|, never n², and
    no pair touches a shuffled shingle table."""
    shared = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        cand.join(
            sets_a.select(F.col("_id").alias(a), F.col("_sh").alias("_sha"), F.col("_n").alias("_na")),
            a,
        )
        .join(
            sets_b.select(F.col("_id").alias(b), F.col("_sh").alias("_shb"), F.col("_n").alias("_nb")),
            b,
        )
        .select(a, b, metric(shared).alias(name))
        .filter(F.col(name) >= threshold)
    )


def verified_pairs(
    cand: DataFrame, a: str, sets_a: DataFrame, b: str, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs ``cand`` (columns a, b)
    whose true shingle-set Jaccard is ≥ threshold. ``sets_a``/``sets_b``
    are ``shingle_sets`` frames (_id, _sh, _n) holding each side's docs.
    The one verify step of every Jaccard pipeline here: prefix n-gram
    Jaccard, MinHash+LSH (one-shot and incremental) and the streaming LSH
    ingest."""
    return _verify(
        cand, a, sets_a, b, sets_b, "jaccard",
        lambda shared: shared / (F.col("_na") + F.col("_nb") - shared), threshold,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    method: str = "prefix",
    reuse: str = "recompute",
) -> DataFrame:
    """Exact near-dup pairs by word-k-gram Jaccard ≥ threshold.

    ``method='prefix'`` (default) is the scale path: AllPairs/PPJoin-style
    prefix filtering (Bayardo et al., WWW'07): candidates join ONLY on
    both docs' ``_prefix_postings`` and ``verified_pairs`` computes their
    exact Jaccard. Lossless (identical output to the naive join, same
    oracle), but the join's hot keys are gone by construction.

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

    ``reuse`` (see ``_shared_sets``): the per-doc shingle-set frame feeds
    the document frequencies, the prefix ranking and the candidate
    verify.
    """
    # Everything derives from the ARRAY-form shingle sets (r10): the
    # exploded postings come from them, and the verify step reads them
    # directly instead of re-assembling per-doc sets with a collect_set
    # shuffle (guide §2.4: one shuffle removed outright).
    ss = _shared_sets(shingle_sets(df, id_col, text_col, k), reuse)
    sh = ss.select("_id", F.explode("_sh").alias("_s"))
    if method == "allpairs":
        return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")

    prefix = _prefix_postings(sh, ss.select("_id", "_n"), threshold)
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return verified_pairs(cand, "id_a", ss, "id_b", ss, threshold)


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(_id, _sh, _n): the distinct word-k-gram set per doc as an ARRAY
    column plus its size. Pure projection — zero shuffle; the whole
    shingle set stays inside one row (docs are bounded, corpora are not,
    so this is the scale-safe orientation). Docs with fewer than k words
    are dropped (they have no shingles, mirroring the exploded form where
    they simply contribute no rows)."""
    # Drop <k-word docs on the token count, BEFORE the shingle projection:
    # size(tokens) >= k is exactly size(_sh) > 0, but filtering on
    # size(_sh) let Catalyst inline the whole shingle expression into a
    # filter pushed below an upstream fan_out exchange, evaluating it
    # twice (r10 executed-plan audit).
    return (
        df.filter(F.size(tokens(text_col)) >= F.lit(k))
        .select(F.col(id_col).alias("_id"), word_shingles(text_col, k).alias("_sh"))
        .withColumn("_n", F.size("_sh"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    shingle_sets_df: DataFrame | None = None,
) -> DataFrame:
    """(id, _m0.._m{n-1}) — min over shingle hashes per universal hash
    function, deterministic parameters from ``minhash_coeffs`` (md5-mixed
    large multipliers; see its docstring for why small ones break).

    Computed per-row as ``array_min(transform(shingles, h_i))`` over the
    shingle-set array: the signature needs NO shuffle at all (the exploded
    shingle→groupBy formulation shuffles the whole shingle table — strictly
    worse at any scale). Each gram is md5'd ONCE here, never num_hashes
    times. (Measured at sf0.1: the hashing+minhash slice is ~5% of the
    pipeline; the real cost is gram-string construction.)"""
    ss = shingle_sets_df if shingle_sets_df is not None else shingle_sets(df, id_col, text_col, k)
    # Single F.expr strings (r10): the Column-DSL form cost ~15 py4j
    # round-trips per hash function, >1 s of driver-side plan building per
    # dedup_minhash_lsh; the parser builds the identical Catalyst tree in
    # ONE round trip. ``_hs`` mirrors md5_int, once per gram.
    hashed_df = ss.select(
        "_id",
        F.expr("transform(_sh, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))").alias("_hs"),
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
) -> DataFrame:
    """(_id, _band, _bh): one row per (doc, LSH band); band signature =
    md5 of the in-band minhashes in hash-index order. Built by exploding
    a literal array of per-band structs over the per-row signature — pure
    projection, no shuffle. Shared by the batch pipelines
    (``minhash_lsh_pairs``, ``minhash_incremental_pairs``) and the
    streaming admission index (``streaming.jobs.foreach_batch_lsh_ingest``)."""
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes, shingle_sets_df=shingle_sets_df)
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
    shingle_sets_df: DataFrame | None = None,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature → bands → bucket join
    → candidate pairs → ``verified_pairs`` with true Jaccard ≥ threshold.

    ``broadcast_candidates=True`` hints the candidate-pair table as the
    broadcast side of both verify joins. Default False (the scale-safe
    mode: candidates grow with near-dup density and a forced broadcast
    has an 8 GB cap), but when the caller knows the candidate set is
    small — bench SFs, bounded-dup corpora — it avoids the planner's
    static-estimate choice of broadcasting the shingle table (the K×
    LARGER side) twice: measured 0.2 s faster at sf0.1 (guide §3.1:
    broadcast the side that fits, chosen deliberately).

    The candidate join keys on (band, md5-of-band-signature), so its size
    is the number of truly-colliding pairs. Signatures are shuffle-free
    (array form): the only shuffles are the band self-join, the candidate
    distinct and the two verify id-joins — cost tracks near-dup density,
    never n². This is the 100 TB path.
    """
    # The sets feed signatures and verify (``reuse``: see _shared_sets). A
    # caller that ALSO needs them (the estimate gate) passes shingle_sets_df.
    if shingle_sets_df is None:
        shingle_sets_df = shingle_sets(df, id_col, text_col, k)
    ss = _shared_sets(shingle_sets_df, reuse)
    bands = minhash_band_table(df, id_col, text_col, k, num_hashes, band_size, shingle_sets_df=ss)
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
    return verified_pairs(candidates, "id_a", ss, "id_b", ss, threshold)


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
    full = F.expr(_word_grams(text_col, k))
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
    never the corpus squared. Each side's shingle sets feed its band
    build and ``verified_pairs``, recomputed per branch (the shingle
    table is ~k× the corpus). Returns (new_id, dup_of, jaccard)."""
    ss_new = shingle_sets(new_df, id_col, text_col, k)
    ss_cor = shingle_sets(corpus_df, id_col, text_col, k)
    bn = minhash_band_table(
        new_df, id_col, text_col, k, num_hashes, band_size, shingle_sets_df=ss_new
    )
    bc = minhash_band_table(
        corpus_df, id_col, text_col, k, num_hashes, band_size, shingle_sets_df=ss_cor
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
    return verified_pairs(candidates, "new_id", ss_new, "dup_of", ss_cor, threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed near-containment pairs: |A∩B| / |A| ≥ threshold over word
    k-gram shingle sets — the "document A is mostly a snippet of B"
    detector. Jaccard-based near-dup structurally MISSES this case (a
    small doc fully inside a big one has Jaccard |A|/|B| → 0), which is
    why corpus pipelines run containment as its own pass to drop quoted
    excerpts and boilerplate-wrapped copies.

    Scale shape: the probe side joins only each doc's PREFIX shingles
    (``_prefix_postings``): a pair with overlap ≥ ⌈t·|A|⌉ must share one
    of A's first |A| - ⌈t·|A|⌉ + 1 shingles (lossless for exact
    verification). At t = 0.8 the probe carries ~20% of the shingle
    table. The index side needs FULL postings (the shared gram can sit
    anywhere in B's order, and B's own prefix bound degrades to |B| when
    A is small), so a hot gram inside some probe prefix joins its whole
    posting list. Exact containment verifies candidates through the same
    id-join as ``verified_pairs`` — no pair ever touches a shuffled
    shingle table."""
    # per-doc shingle SETS come from the zero-shuffle projection; the
    # exploded postings derive from them, so the arrays the verify step
    # needs are never rebuilt via a collect_set shuffle
    ss = shingle_sets(df, id_col, text_col, k)
    sh = ss.select("_id", F.explode("_sh").alias("_s"))
    prefix = _prefix_postings(sh, ss.select("_id", "_n"), threshold)
    cand = (
        prefix.alias("a")
        .join(sh.alias("b"), (F.col("a._s") == F.col("b._s")) & (F.col("a._id") != F.col("b._id")))
        .select(F.col("a._id").alias("contained_id"), F.col("b._id").alias("container_id"))
        .distinct()
    )
    return _verify(
        cand, "contained_id", ss, "container_id", ss, "containment",
        lambda shared: shared / F.col("_na"), threshold,
    )
