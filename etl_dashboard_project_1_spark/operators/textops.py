"""Text-analysis operators for training-data pipelines (north-star
extensions, SURVEY.md §7 module 10): language ID, quality scoring, token
counting, document fingerprinting.

All pure Column expressions (JVM-side, codegen'd) — a 100 TB corpus never
leaves the executors and never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import normalized_fingerprint, tokens  # re-exported building blocks

# Minimal stopword profiles for the n-gram/stopword-ratio language
# heuristic. Deliberately tiny: the point is the operator shape (set
# membership ratios over token arrays), not lexicon quality.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "y", "que", "en", "los", "las", "un", "una"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "dans"),
}

EN_STOPWORDS = LANG_PROFILES["en"]


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"\s+"))


def word_token_count(text: Column | str) -> Column:
    """BPE-ish word/punctuation token count: alphanumeric runs and single
    non-space punctuation marks each count as one token."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), F.lit(0))
    )


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of tokens that are profile stopwords."""
    t = tokens(text)
    hits = F.size(F.filter(t, lambda w: w.isin(*stopwords)))
    return hits / F.greatest(F.size(t), F.lit(1))


def language_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-ratio scores."""
    return {lang: stopword_ratio(text, words) for lang, words in LANG_PROFILES.items()}


def detect_language(text: Column | str, min_ratio: float = 0.05) -> Column:
    """Argmax language over the profiles; 'und' when no profile clears
    ``min_ratio``. Deterministic tie-break: profile declaration order wins
    (strict > comparison against the running best)."""
    scores = language_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(float(min_ratio))
    for lang, score in scores.items():
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-whitespace chars that are punctuation/symbols."""
    c = F.col(text) if isinstance(text, str) else text
    no_ws = F.regexp_replace(c, r"\s", "")
    non_punct = F.regexp_replace(no_ws, r"[^a-zA-Z0-9]", "")
    return (F.length(no_ws) - F.length(non_punct)) / F.greatest(F.length(no_ws), F.lit(1))


def mean_word_length(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w))
    return total / F.greatest(F.size(t), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    - length component: saturating n_tokens / 200
    - fluency component: 1 - punct_ratio
    - naturalness component: stopword ratio saturating at 0.08
    Weighted 0.4 / 0.3 / 0.3 — the standard shape of corpus-filtering
    scores (length/punct/stopword mix), tuned for determinism not SOTA.
    """
    length_c = F.least(token_count(text) / F.lit(200.0), F.lit(1.0))
    punct_c = F.lit(1.0) - punct_ratio(text)
    stop_c = F.least(stopword_ratio(text) / F.lit(0.08), F.lit(1.0))
    return 0.4 * length_c + 0.3 * punct_c + 0.3 * stop_c


def doc_fingerprint(text: Column | str) -> Column:
    """Stable content fingerprint: md5 of the sorted distinct token set
    (whitespace/order-invariant). Alias of the dedup building block."""
    return normalized_fingerprint(text)


def repetition_signals(text: Column | str) -> dict[str, Column]:
    """Repetition-based quality signals (the corpus-filtering family
    popularized by large-LM data pipelines: heavily repeated content is a
    strong low-quality marker):

    - ``dup_word_ratio``: fraction of word occurrences that are repeats
      (``1 - distinct/total``).
    - ``top_token_share``: share of the single most frequent token.

    Pure per-row array expressions — per-doc cost is bounded by document
    length (docs are bounded; corpora are not), zero shuffle, zero UDF.
    """
    t = tokens(text)
    n = F.greatest(F.size(t), F.lit(1))
    distinct = F.array_distinct(t)
    counts = F.transform(distinct, lambda d: F.size(F.filter(t, lambda x: x == d)))
    # size(NULL) is -1 in Spark: propagate null for null text instead of
    # emitting garbage ratios (the SQL oracle's len(NULL) is NULL too)
    c = F.col(text) if isinstance(text, str) else text
    return {
        "dup_word_ratio": F.when(c.isNull(), F.lit(None).cast("double")).otherwise(
            F.lit(1.0) - F.size(distinct) / n
        ),
        "top_token_share": F.when(c.isNull(), F.lit(None).cast("double")).otherwise(
            F.array_max(counts) / n
        ),
    }


def chunk_tokens_overlap(
    df, id_col: str, text_col: str, chunk_size: int = 32, stride: int = 24,
    max_chunks: int | None = None,
):
    """Sliding-window token chunking with overlap — the LLM-training prep
    step that turns long documents into fixed-length training windows
    (``stride < chunk_size`` overlaps consecutive windows).

    One generate (explode of a per-row ``sequence``) with NO shuffle: the
    chunk count per doc is ``ceil((n - chunk_size)/stride) + 1`` (min 1),
    chunk ``i`` is ``slice(tokens, i*stride + 1, chunk_size)``. Emits
    (id, chunk_no, n_tokens, chunk_hash) — the hash stands in for the
    chunk payload so the manifest stays narrow; a loader re-slices by
    (id, chunk_no). Null-text rows produce no chunks.

    ``max_chunks`` is an EXPLICIT per-doc truncation cap (pathological
    mega-docs stop fanning out); None means unbounded.
    """
    t = tokens(text_col)
    n = F.size(t)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_size)) / F.lit(float(stride))).cast("int") + 1
    )
    if max_chunks is not None:
        n_chunks = F.least(n_chunks, F.lit(max_chunks))
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return (
        df.filter(c.isNotNull()).select(
            F.col(id_col),
            t.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        )
        .select(
            F.col(id_col),
            "chunk_no",
            F.size(F.slice(F.col("_t"), F.col("chunk_no") * stride + 1, chunk_size)).alias(
                "n_tokens"
            ),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("_t"), F.col("chunk_no") * stride + 1, chunk_size))
            ).alias("chunk_hash"),
        )
    )


def unigram_logprob(df, id_col: str, text_col: str):
    """Corpus-LM quality score (the unigram cousin of the CCNet-style
    perplexity filter): per-doc mean token SURPRISAL under the corpus's
    own unigram distribution, in integer floor-log₂ bits. High means
    rare/noisy vocabulary; near zero means stopword soup — both tails
    are what corpus filters cut.

    Exactness: the per-token term is ``ilog2(total) − ilog2(c)`` where
    ``ilog2(x) = floor(log2(x)) = length(bin(x)) − 1`` — computed via
    the binary-string length, an EXACT integer in both engines (no
    runtime transcendental; libm vs JVM ``log`` can differ in the last
    ulp, the repo's banned risk class — the contingency/Nelson-Aalen
    precedent). The term is ≥ 0 because c ≤ total, so the x100 mean is
    a non-negative integer division. The real-valued mean log₂-prob is
    recoverable offline to ±1 bit/token from the emitted sufficient
    statistics (n_tokens, sum_surprisal_bits).

    Shape: token table (no shuffle) → vocab counts (one vocab-sized
    shuffle, broadcast back) → per-doc sum (one doc-keyed shuffle). The
    corpus total joins lazily as a 1-row broadcast.
    """
    tok = df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    total = tok.agg(F.count(F.lit(1)).alias("_total"))
    return (
        tok.join(F.broadcast(freq), "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.length(F.expr("bin(_total)")) - F.length(F.expr("bin(_c)"))
            ).cast("long").alias("sum_surprisal_bits"),
        )
        .withColumn(
            "mean_surprisal_bits_x100",
            F.expr("CAST((sum_surprisal_bits * 100) div n_tokens AS BIGINT)"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "sum_surprisal_bits",
            "mean_surprisal_bits_x100",
        )
    )


def bigram_logprob(df, id_col: str, text_col: str):
    """Bigram corpus-LM quality score — the conditional-probability step
    from the unigram filter toward the KenLM-style CCNet perplexity
    filter: per-doc mean SURPRISAL of ``P(w_i | w_{i-1})`` in integer
    floor-log₂ bits, with ``P = c(w_{i-1} w_i) / c(w_{i-1}·)``
    (denominator = occurrences of the word as a bigram PREFIX, so the
    conditional normalizes exactly: Σ_w2 c2(w1,w2) = c1(w1)).

    Exactness: the per-occurrence term is ``ilog2(c1) − ilog2(c2)``
    via binary-string lengths — exact integers in both engines, no
    runtime transcendental (see unigram_logprob); ≥ 0 because
    c2 ≤ c1, so the x100 mean is a non-negative integer division.

    Shape: positional bigrams are a zip_with of the token array with its
    own shift (map-only); bigram and prefix counts are two aggregates of
    the exploded table; both join back by their keys as shuffle
    equi-joins — never broadcast, the bigram vocabulary is corpus-scale
    — then one doc-keyed mean. Same join discipline as tfidf, one order
    of n-gram higher.

    Returns (id_col, n_bigrams, sum_surprisal_bits,
    mean_surprisal_bits_x100)."""
    w = tokens(text_col)
    n = F.size(w)
    ln1 = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(w, 1, ln1),
        F.slice(w, 2, ln1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    occ = (
        df.filter(F.size(tokens(text_col)) >= 2)
        .select(F.col(id_col).alias("_id"), F.explode(pairs).alias("_bg"))
        .select("_id", F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    )
    # bigram-vocab-sized counts feed both join sides; materialize once,
    # and derive the prefix counts from them (c1(w1) = Σ_w2 c2(w1,w2),
    # exact integer identity) instead of a second corpus-scale aggregate
    c2 = (
        occ.groupBy("_w1", "_w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    return (
        occ.join(c2, ["_w1", "_w2"])
        .join(c1, "_w1")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.length(F.expr("bin(_c1)")) - F.length(F.expr("bin(_c2)"))
            ).cast("long").alias("sum_surprisal_bits"),
        )
        .withColumn(
            "mean_surprisal_bits_x100",
            F.expr("CAST((sum_surprisal_bits * 100) div n_bigrams AS BIGINT)"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            "sum_surprisal_bits",
            "mean_surprisal_bits_x100",
        )
    )


def tfidf_topk(df, id_col: str, text_col: str, k: int = 3, reuse: str = "checkpoint"):
    """Top-k characteristic terms per document by tf·idf.

    Plan that scales: (1) token counts per (doc, token) — ONE shuffle
    with map-side combine; (2) document frequency per token — vocab-sized
    result, joined back via BROADCAST (no fact-side shuffle); (3) per-doc
    top-k — window on the doc key.

    The tf table feeds two branches (df counts + scoring) and Catalyst
    prunes them differently, so AQE cannot reuse the exchange. The
    DEFAULT is ``reuse='checkpoint'``: materialize tf once via
    localCheckpoint and feed both branches from it — one tokenize+count
    instead of two corpus scans, dropping the plan from 9 exchanges to a
    single-scan shape. Right whenever the (doc, token, tf) table fits
    executor storage, which is every realistic deployment short of the
    corpus itself being storage-bound. ``reuse='recompute'`` is the
    escape hatch for exactly that regime (tf rivals the corpus in size:
    re-scanning is an embarrassingly parallel projection, materializing
    is a second copy of the dataset) and for when executor-loss
    recomputability matters (localCheckpoint blocks are not rebuildable).
    The rejected third form, ``count(*) over (partition by token)``,
    would be one scan with no materialization but serializes every
    stopword token's corpus-sized group through one task — a 100 TB skew
    bomb.

    idf is the RATIONAL form ``(N + 1) / (df + 1)`` rather than its log:
    integer-product-then-divide is a single correctly-rounded IEEE op, so
    rankings are bit-identical across engines (log-idf is a one-line swap
    but libm vs JVM ``log`` can disagree in the last ulp and flip
    near-ties). Monotone per fixed tf, so top-k membership only differs
    from log-idf where scores tie anyway.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok"))
    tf = tok.groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("tf"))
    if reuse == "checkpoint":
        tf = tf.localCheckpoint(eager=False)
    elif reuse != "recompute":
        raise ValueError(f"unknown reuse mode {reuse!r}")
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("df"))
    # corpus size joins in LAZILY (broadcast 1-row cross) — a .first() here
    # would run a full corpus scan at plan-BUILD time, firing jobs from
    # mere EXPLAIN / plan-audit calls
    n_docs = df.agg(F.countDistinct(F.col(id_col)).cast("double").alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "_tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("_n") + 1) / (F.col("df") + 1))
    )
    w = Window.partitionBy("_id").orderBy(F.desc("score"), F.asc("_tok"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_id").alias(id_col),
            F.col("_rn").alias("rank"),
            F.col("_tok").alias("token"),
            "tf",
            "df",
        )
    )


# PII patterns deliberately written in the regex subset every engine
# parses identically (no lookarounds, no \b word boundaries — DuckDB RE2
# and Java regex agree on these literals and classes).
# ipv4 MUST precede phone: an IPv4 with 3-digit octets (192.168.100.200)
# fully matches the dotted phone pattern, so the earlier-listed ipv4 rule
# must claim it first. The audit counts apply the same sequential
# semantics (each kind counted on the text with earlier kinds already
# scrubbed), so a string is only ever attributed to ONE kind — the one
# that would scrub it.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}", "<PHONE>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
)


def scrub_pii(text: Column | str, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace PII spans with typed placeholder tokens — chained
    ``regexp_replace`` (JVM-side, codegen'd; order = PII_PATTERNS order,
    so SSN-looking strings inside already-scrubbed spans can't re-match).
    """
    col = F.col(text) if isinstance(text, str) else text
    for kind, pattern, token in PII_PATTERNS:
        if kinds is None or kind in kinds:
            col = F.regexp_replace(col, pattern, token)
    return col


def pii_hit_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind match counts (audit metric before destructive scrubbing).

    Counted SEQUENTIALLY — kind i is counted on the text with kinds
    0..i-1 already scrubbed — so every span is attributed to exactly the
    kind that scrub_pii would replace it with (an IP never also counts as
    a phone; a dotted phone still counts as a phone)."""
    col = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    for kind, pattern, token in PII_PATTERNS:
        out[kind] = F.coalesce(F.regexp_count(col, F.lit(pattern)), F.lit(0)).cast("long")
        col = F.regexp_replace(col, pattern, token)
    return out


def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    query_ids: tuple[int, ...],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 lexical retrieval: score every document against each query
    document's token set and return the top-k per query — the classic
    (Robertson/Okapi) sparse-retrieval ranking that pairs with the dense
    cosine top-k in ``operators/vector.py`` (hybrid retrieval uses both).

    Scale shape: one (doc, token) count shuffle builds the tf table,
    which is localCheckpointed and feeds THREE consumers (document
    frequencies, corpus stats, query-term extraction) from one
    tokenization pass. Everything query-sided is request-sized and
    BROADCAST: query terms (|Q| docs' vocabularies), their document
    frequencies (one row per query term — never the full vocabulary),
    and the 1-row (N, avgdl) stats. The corpus-side tf table is probed
    by that broadcast — document text never reshuffles — then one
    (query, doc)-keyed aggregation sums per-term contributions and a
    request-keyed window takes top-k. No all-pairs anything: a document
    with zero query-term overlap never leaves its scan.

    idf uses the RATIONAL Robertson form ``(N - df + 0.5) / (df + 0.5)``
    rather than its log (same bit-stability rationale as ``tfidf_topk``:
    pure IEEE arithmetic reproduces identically across engines; libm vs
    JVM ``log`` can flip near-ties). Query term frequency is ignored
    (standard for short queries; the k3 saturation term is ~1 there).

    Returns (qid, rank, id_col, score, n_terms).
    """
    from pyspark.sql import Window

    w = tokens(text_col)
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.size(w).alias("_dl"),
        F.explode(w).alias("_tok"),
    )
    tf = tok.groupBy("_id", "_tok").agg(
        F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl")
    )
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    stats = tf.groupBy().agg(
        F.countDistinct("_id").cast("double").alias("_n"),
        (F.sum("_tf") / F.countDistinct("_id")).alias("_avgdl"),
    )
    qterms = tf.filter(F.col("_id").isin(list(query_ids))).select(
        F.col("_id").alias("_qid"), "_tok"
    )
    # enrich the request-sized query-term set with df + corpus stats;
    # only query terms ever need an idf, so the broadcast stays |Q|-sized
    qdf = dfreq.join(F.broadcast(qterms), "_tok").crossJoin(F.broadcast(stats))
    idf = (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    tfnorm = (F.col("_tf") * (k1 + 1.0)) / (
        F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    )
    # Each per-term contribution is ONE fixed-shape IEEE expression
    # (bit-identical across engines), floored to integer micro-units
    # BEFORE the sum — so the total is independent of summation ORDER.
    # A raw double sum ranks exact-tie documents (duplicated text) by
    # accumulated rounding error, nondeterministically across partitions
    # and engines (found by the all-ties sweep, tools/tiny_sweep.py).
    # At 1e-6 per-term quantization the score drift is far below the
    # 1e-4 output rounding; int64 holds until N_docs * |shared terms|
    # approaches ~6e12 (decimal(38) escape past that).
    term_e6 = F.floor((idf * tfnorm) * F.lit(1000000.0)).cast("long")
    scored = (
        tf.join(F.broadcast(qdf), "_tok")
        .filter(F.col("_id") != F.col("_qid"))
        .groupBy("_qid", "_id")
        .agg(
            F.sum(term_e6).alias("_score_e6"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    rank_w = Window.partitionBy("_qid").orderBy(F.desc("_score_e6"), F.asc("_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("qid"),
            "rank",
            F.col("_id").alias(id_col),
            (F.col("_score_e6") / F.lit(1000000.0)).alias("score"),
            "n_terms",
        )
    )


def boilerplate_strip(
    df,
    id_col: str,
    text_col: str,
    seg_words: int = 2,
    max_df_frac: float = 0.05,
):
    """Corpus-level boilerplate removal (the C4/CCNet line-dedup shape,
    re-expressed for whitespace corpora): segment every document into
    non-overlapping ``seg_words``-token windows, find segments whose
    document frequency is ≥ ``max_df_frac`` of the corpus (headers,
    footers, nav text — anything repeated verbatim across many pages),
    strip those segments from every document, and reassemble the
    remaining text in order.

    Scale shape: segments explode once with their position; document
    frequencies ride one segment-keyed groupBy; the boiler set (at most
    segments-per-doc / max_df_frac entries regardless of corpus size)
    broadcasts into a hash LEFT join that marks occurrences at O(1) per
    probe; one groupBy(id) reassembles in position order (array_sort
    over (pos, seg, is_boiler) structs — no unpartitioned window, no
    driver collect). Testing each segment with ``array_contains``
    against a broadcast boiler ARRAY instead costs O(B) string compares
    per segment (Spark array lookups are linear scans), which stalls a
    single task for minutes on 20k-char documents; the hash join trades
    that for one extra linear shuffle (the reassembly groupBy).

    Returns (id_col, text_clean, n_segments, n_removed).
    """
    # Segmentation is stride-extraction + zip_with, NOT transform over
    # start offsets with slice(split(text), i, k): in that form Catalyst
    # collapses the split() projection INTO the lambda, re-tokenizing the
    # whole document once per segment — O(L²) per doc (measured: 69.8 s
    # for FIVE 218k-char docs vs 2.9 s for fifty with this form).
    # filter/zip_with evaluate their input array once per ROW; the
    # lambdas only touch elements. Semantics identical to the slice
    # form: parts[j] holds tokens at positions ≡ j (mod k), the zip
    # chain pads the ragged tail with null, and concat_ws skips nulls —
    # so the last segment keeps 1..k tokens exactly like a short slice.
    w = F.split(F.col(text_col), " ")

    def stride(j: int):
        # factory closure: a `j=j` default param would change the
        # lambda's arity and break PySpark's (element, index) binding
        return F.filter(w, lambda x, i: i % seg_words == j)

    parts = [stride(j) for j in range(seg_words)]
    segs = parts[0]
    for p in parts[1:]:
        segs = F.zip_with(segs, p, lambda a, b: F.concat_ws(" ", a, b))
    base = df.filter(F.col(text_col).isNotNull() & (F.col(text_col) != "")).select(
        F.col(id_col).alias("_id"), segs.alias("_segs")
    )
    occ = base.select("_id", F.posexplode("_segs").alias("_pos", "_seg"))
    seg_df = occ.groupBy("_seg").agg(F.countDistinct("_id").alias("_df"))
    total = base.agg(F.count(F.lit(1)).alias("_n_docs"))
    boiler = (
        seg_df.crossJoin(F.broadcast(total))
        .filter(F.col("_df") >= F.lit(max_df_frac) * F.col("_n_docs"))
        .select(F.col("_seg").alias("_bseg"))
    )
    marked = occ.join(F.broadcast(boiler), occ["_seg"] == F.col("_bseg"), "left")
    sp = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("_pos"),
                F.col("_seg"),
                F.col("_bseg").isNotNull().alias("_b"),
            )
        )
    )
    return (
        marked.groupBy("_id")
        .agg(sp.alias("_sp"))
        .select(
            F.col("_id").alias(id_col),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(F.col("_sp"), lambda s: ~s["_b"]),
                    lambda s: s["_seg"],
                ),
            ).alias("text_clean"),
            F.size("_sp").cast("long").alias("n_segments"),
            F.expr("size(filter(_sp, s -> s._b))").cast("long").alias("n_removed"),
        )
    )
