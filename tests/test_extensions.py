"""Unit tests for the training-data extension operators beyond what the
DuckDB oracle covers: ANN recall floor, LSH candidate quality, multimodal
batch plumbing."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_dashboard_project_1_spark.operators import dedup, multimodal, vector
from etl_dashboard_project_1_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_ann_recall_vs_bruteforce(spark):
    """Hyperplane-LSH top-k must overlap the exact top-k meaningfully and
    never return a vector outside the query bucket's exact ranking."""
    emb = load_table(spark, SF, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {
        r["vec_id"]
        for r in vector.cosine_topk(emb, "vec_id", "embedding", query, k=10, exclude_id=0).collect()
    }
    approx_rows = vector.hyperplane_lsh_topk(
        emb, "vec_id", "embedding", query, k=10, num_planes=4, probe_hamming=2,
        exclude_id=0,
    ).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert len(approx_rows) > 0
    # measured 0.7 recall at these settings on the testdata; 0.4 floor
    # leaves headroom for the approximation being genuinely approximate
    recall = len(exact & approx) / 10
    assert recall >= 0.4, f"recall {recall} too low: exact={exact}, approx={approx}"
    # scores must be true cosines: re-check one against the exact list order
    scores = [r["cosine"] for r in approx_rows]
    assert scores == sorted(scores, reverse=True)


def test_minhash_candidates_superset_of_high_jaccard(spark):
    """LSH with 4 bands of 2 should catch nearly every pair with very high
    Jaccard (probability of missing j=0.9 is (1-0.81)^4 ≈ 0.1%)."""
    docs = load_table(spark, SF, "documents")
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", 3, 8, 2, 0.2).collect()
    }
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed near-identical pairs: {missed}"


def test_exact_dedup_finds_planted_duplicate(spark):
    docs = load_table(spark, SF, "documents").limit(5)
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 10_000)
    with_dup = docs.unionByName(dup)
    groups = dedup.exact_dedup_groups(with_dup, "doc_id", "text")
    dups = groups.filter(F.col("n_docs") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["n_docs"] == 2
    assert dups[0]["keep_id"] < 10_000  # keeper is the original


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "spark shuffles the data"), (2, "spark shuffles the data"),
         (3, "completely different words entirely")],
        ["doc_id", "text"],
    )
    pairs = dedup.simhash_pairs(df, "doc_id", "text", bits=32, max_hamming=0, prefix_bits=0)
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()]
    assert got == [(1, 2, 0)]


def test_multimodal_meta_deterministic_and_batched(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    with_bin = multimodal.attach_binary(docs)
    meta = multimodal.extract_image_meta(with_bin)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert len(rows) == 20
    for r in rows.values():
        assert 16 <= r["width"] < 80 and 16 <= r["height"] < 80
        assert 1 <= r["channels"] <= 3
        assert r["n_bytes"] > 0
    # deterministic across runs
    again = {r["doc_id"]: r for r in multimodal.extract_image_meta(with_bin).collect()}
    assert rows == again


def test_frame_sampling_bounded_fanout(spark):
    docs = load_table(spark, SF, "documents").limit(10)
    frames = multimodal.sample_frames(multimodal.attach_binary(docs), every_n_bytes=64, max_frames=8)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(1 <= r["count"] <= 8 for r in per_doc)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF (16 cells, probe 4) must overlap the exact top-10 meaningfully;
    scores must be true cosines in descending order."""
    emb = load_table(spark, SF, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {
        r["vec_id"]
        for r in vector.cosine_topk(emb, "vec_id", "embedding", query, k=10, exclude_id=0).collect()
    }
    approx_rows = vector.ivf_topk(
        emb, "vec_id", "embedding", query, k=10,
        num_centroids=16, n_probe=4, iterations=2, exclude_id=0,
    ).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert len(approx_rows) == 10
    recall = len(exact & approx) / 10
    # measured 0.9 at sf0.01; 0.4 floor leaves approximation headroom
    assert recall >= 0.4, f"recall {recall} too low: exact={exact}, approx={approx}"
    scores = [r["cosine"] for r in approx_rows]
    assert scores == sorted(scores, reverse=True)


def test_kmeans_deterministic_and_partitions_all_rows(spark):
    """Two fits from the same data give identical centroids; every vector
    lands in exactly one cell with a valid index."""
    emb = load_table(spark, SF, "embeddings")
    v = emb.select("vec_id", vector.as_double_vec("embedding").alias("_v"))
    c1 = vector.kmeans_fit(v, "_v", k=8, iterations=1, order_col="vec_id")
    c2 = vector.kmeans_fit(v, "_v", k=8, iterations=1, order_col="vec_id")
    assert c1 == c2
    assigned = v.select(vector.nearest_centroid(F.col("_v"), c1).alias("c"))
    bad = assigned.filter((F.col("c") < 0) | (F.col("c") >= 8)).count()
    assert bad == 0
    assert assigned.count() == emb.count()


def test_sessionize_gap_splits(spark):
    """Hand-built stream: 3 events inside one gap window, then a 2h jump
    -> exactly 2 sessions; session_seq is 1-based and monotone."""
    from etl_dashboard_project_1_spark.operators import sessionize as sz

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),
        (1, "2024-01-01 10:20:00", 3.0),
        (1, "2024-01-01 12:30:00", 4.0),
        (2, "2024-01-01 09:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sz.session_stats(
        df, "ts", by=["user_id"], gap_seconds=1800, value_col="value"
    ).collect()
    by_key = {(r["user_id"], r["session_seq"]): r for r in out}
    assert set(by_key) == {(1, 1), (1, 2), (2, 1)}
    assert by_key[(1, 1)]["n_events"] == 3
    assert by_key[(1, 1)]["sum_value"] == 6.0
    assert by_key[(1, 2)]["n_events"] == 1


def test_interval_join_half_open_bounds(spark):
    """point == range_start matches; point == range_end does not."""
    from etl_dashboard_project_1_spark.operators import rangejoin

    points = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:00:00"), (2, "2024-01-01 10:30:00")],
        ["user_id", "p_ts"],
    ).withColumn("p_ts", F.to_timestamp("p_ts"))
    ranges = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "2024-01-01 11:00:00")],
        ["user_id", "r_start", "r_end"],
    ).withColumn("r_start", F.to_timestamp("r_start")).withColumn(
        "r_end", F.to_timestamp("r_end")
    )
    out = rangejoin.interval_join(
        points, ranges, "p_ts", "r_start", "r_end", by=["user_id"]
    ).collect()
    assert len(out) == 1  # 10:00 in, 11:00 out (half-open), user 2 no range


def test_split_disjoint_exhaustive_and_stable(spark):
    """Every doc gets exactly one split; the label is a pure function of
    the key (subsetting the corpus never reassigns a surviving row)."""
    from etl_dashboard_project_1_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    split = sampling.train_test_split(docs, "doc_id", test_fraction=0.2)
    n = docs.count()
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n
    assert set(counts) == {"train", "test"}
    # stability: the same keys keep their split on a half corpus
    half = sampling.train_test_split(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", 0.2)
    joined = split.alias("a").join(half.alias("b"), "doc_id").filter(
        F.col("a.split") != F.col("b.split")
    )
    assert joined.count() == 0


def test_sample_fraction_and_salt_independence(spark):
    """10% hash sample lands near 10%; different salts decorrelate."""
    from etl_dashboard_project_1_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    n = docs.count()
    s1 = sampling.deterministic_sample(docs, "doc_id", 0.10, salt="a")
    s2 = sampling.deterministic_sample(docs, "doc_id", 0.10, salt="b")
    n1, n2 = s1.count(), s2.count()
    assert 0.03 * n <= n1 <= 0.2 * n
    overlap = s1.select("doc_id").intersect(s2.select("doc_id")).count()
    # independent 10% samples overlap ~1%; correlated ones ~10%
    assert overlap < 0.05 * n


def test_pack_chunks_concat_then_chunk_semantics(spark):
    """Hand-built stream, budget 100: docs of 60/60/100/30 tokens start at
    offsets 0/60/120/220 -> chunks 0/0/1/2."""
    from etl_dashboard_project_1_spark.operators import sampling

    rows = [("en", 1, 60), ("en", 2, 60), ("en", 3, 100), ("en", 4, 30), ("de", 9, 10)]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "n_tok"])
    packed = sampling.pack_chunks(df, "n_tok", 100, by=["lang"], order_cols=["doc_id"])
    got = {r["doc_id"]: r["chunk_id"] for r in packed.collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 9: 0}


def test_stratified_topn_exact_count(spark):
    from etl_dashboard_project_1_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    out = sampling.stratified_topn(docs, ["lang"], 3, ["doc_id"])
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, k in avail.items():
        assert per[lang] == min(3, k)


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 collapses to one cluster labeled 1 even though (1,4)
    never co-occur in a pair; 10-11 is a separate island."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_pii_scrub_replaces_all_kinds(spark):
    from etl_dashboard_project_1_spark.operators import textops

    rows = [
        (1, "mail a@b.com and c.d+x@e.org twice"),
        (2, "call +1-555-123-4567 or 555 123 4567"),
        (3, "ssn 123-45-6789 ip 10.0.0.1"),
        (4, "clean text, nothing to scrub"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        textops.scrub_pii("text").alias("scrubbed"),
        *[c.alias(k) for k, c in textops.pii_hit_counts("text").items()],
    ).collect()}
    assert out[1]["scrubbed"] == "mail <EMAIL> and <EMAIL> twice"
    assert out[1]["email"] == 2
    assert "<PHONE>" in out[2]["scrubbed"] and "4567" not in out[2]["scrubbed"]
    assert out[3]["ssn"] == 1 and out[3]["ipv4"] == 1
    assert "<SSN>" in out[3]["scrubbed"] and "<IP>" in out[3]["scrubbed"]
    assert out[4]["scrubbed"] == rows[3][1]


def test_resize_and_features_contracts(spark):
    """resize: output is exactly target_w*target_h bytes per row;
    features: fixed-dim array<double> in [0,1], deterministic."""
    docs = load_table(spark, SF, "documents").limit(20)
    with_bin = multimodal.attach_binary(docs)
    resized = multimodal.resize_images(with_bin, 16, 8).collect()
    assert all(r["n_bytes"] == 16 * 8 and len(r["resized"]) == 16 * 8 for r in resized)
    feats1 = {r["doc_id"]: r["features"] for r in multimodal.extract_features(with_bin, dim=8).collect()}
    feats2 = {r["doc_id"]: r["features"] for r in multimodal.extract_features(with_bin, dim=8).collect()}
    assert feats1 == feats2
    assert all(len(v) == 8 and all(0.0 <= x <= 1.0 for x in v) for v in feats1.values())


def test_approx_distinct_within_error_bound(spark):
    """HLL estimate within 5% of the exact per-day distinct count."""
    from etl_dashboard_project_1_spark.plans import timeseries_queries as tq

    approx = {r["day"]: r["approx_users"] for r in
              tq.approx_distinct_users_daily(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {r["day"]: r["n"] for r in ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(approx) == set(exact)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(1, 0.05 * n), (day, approx[day], n)


def test_blocked_cosine_pairs_subset_and_recall(spark):
    """Banded sign-LSH pairs must be a subset of the exact quadratic pairs
    (verification is exact cosine) and recall a solid share of them even
    at the loose 0.4 threshold, where per-plane agreement is weakest."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in vector.cosine_pairs(emb, "vec_id", "embedding", 0.4)
        .select("id_a", "id_b").collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in vector.cosine_pairs_blocked(
            emb, "vec_id", "embedding", 0.4, num_planes=32, band_size=4
        ).select("id_a", "id_b").collect()
    }
    assert blocked <= exact
    if exact:
        recall = len(blocked) / len(exact)
        # measured 0.78 at sf0.01 (all testdata pairs are marginal
        # 0.4-0.6 cosine); 0.5 floor leaves approximation headroom
        assert recall >= 0.5, f"recall {recall}: {len(blocked)}/{len(exact)}"


def test_blocked_cosine_pairs_no_cartesian_plan(spark):
    """The scale claim: candidates come from an equi-join on the
    (band, bucket) block key, never a nested-loop / cartesian product."""
    emb = load_table(spark, SF, "embeddings")
    plan = (
        vector.cosine_pairs_blocked(emb, "vec_id", "embedding", 0.4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_prebuilt_index_matches_inline_fit(spark):
    """ivf_build + ivf_topk(centroids=...) is the serving path: one fit
    per corpus, identical results to the convenience on-the-fly fit."""
    emb = load_table(spark, SF, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    centroids = vector.ivf_build(emb, "vec_id", "embedding", num_centroids=16, iterations=2)
    prebuilt = vector.ivf_topk(
        emb, "vec_id", "embedding", query, k=10, n_probe=4,
        exclude_id=0, centroids=centroids,
    ).collect()
    inline = vector.ivf_topk(
        emb, "vec_id", "embedding", query, k=10,
        num_centroids=16, n_probe=4, iterations=2, exclude_id=0,
    ).collect()
    assert [tuple(r) for r in prebuilt] == [tuple(r) for r in inline]


def test_ngram_jaccard_df_cap_kills_hot_shingles(spark):
    """Skew guard: many unrelated docs sharing one stopword gram explode
    the df² self-join; with max_shingle_df the hot gram is dropped from
    the universe while genuinely near-identical pairs survive."""
    hot = "as a matter of fact"  # one shared 5-word prefix -> hot 3-grams
    rows = [(i, f"{hot} unique{i} filler{i} tail{i}") for i in range(20)]
    rows += [(100, "zebra quantum lattice horizon drum"),
             (101, "zebra quantum lattice horizon drumkit")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.2)
    capped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.2, max_shingle_df=5)
    un_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # hot-gram-only pairs appear without the cap, vanish with it
    assert any(a < 100 and b < 100 for a, b in un_pairs)
    assert not any(a < 100 and b < 100 for a, b in cap_pairs)
    # the true near-dup pair survives the cap
    assert (100, 101) in cap_pairs


def test_chunk_overlap_boundaries(spark):
    """Chunk arithmetic: short doc -> 1 chunk; a doc of exactly
    chunk_size -> 1; one token over -> 2 overlapping chunks whose token
    windows share stride..chunk_size positions."""
    from etl_dashboard_project_1_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                                # 3 tokens
            (2, " ".join(f"t{i}" for i in range(8))),     # exactly chunk_size
            (3, " ".join(f"t{i}" for i in range(9))),     # one over
        ],
        ["doc_id", "text"],
    )
    out = textops.chunk_tokens_overlap(docs, "doc_id", "text", chunk_size=8, stride=6)
    per_doc = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert per_doc == {1: 1, 2: 1, 3: 2}
    rows = {(r["doc_id"], r["chunk_no"]): r["n_tokens"] for r in out.collect()}
    assert rows[(3, 0)] == 8 and rows[(3, 1)] == 3  # tail window truncates


def test_repetition_signals_extremes(spark):
    from etl_dashboard_project_1_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "x x x x"), (2, "a b c d")], ["doc_id", "text"]
    )
    sig = textops.repetition_signals("text")
    got = {r["doc_id"]: (r["dup"], r["top"]) for r in docs.select(
        "doc_id", sig["dup_word_ratio"].alias("dup"), sig["top_token_share"].alias("top")
    ).collect()}
    assert got[1] == (0.75, 1.0)   # all repeats of one token
    assert got[2] == (0.0, 0.25)   # all distinct


def test_dq_check_rules_counts_and_single_pass(spark):
    from etl_dashboard_project_1_spark.operators import quality

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 0.0), (4, 99.0)], ["id", "amount"]
    )
    out = quality.check_rules(
        df,
        [("nonpositive", F.col("amount") <= 0), ("too_big", F.col("amount") > 50)],
    )
    rows = {r["rule"]: (r["violations"], r["total_rows"]) for r in out.collect()}
    assert rows == {"nonpositive": (2, 4), "too_big": (1, 4)}
    # all rules share ONE scan+aggregate: no join/union of per-rule passes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Union" not in plan


def test_dq_orphan_count_planted(spark):
    from etl_dashboard_project_1_spark.operators import quality

    fact = spark.createDataFrame([(1,), (2,), (99,)], ["k"])
    dim = spark.createDataFrame([(1,), (2,)], ["k"])
    assert quality.orphan_count(fact, "k", dim, "k").first()["orphans"] == 1


def test_kmv_estimate_within_error_bound(spark):
    """KMV(k=32) expected relative error is ~1/sqrt(k-1) ≈ 18%; pin a 2σ
    envelope against the exact distinct count per day."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import sampling

    ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    est = {r["day"]: r["est_distinct"] for r in sampling.kmv_distinct(ev, ["day"], "user_id", k=32).collect()}
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy("day").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for day, n in exact.items():
        if n < 32:
            assert est[day] == n, (day, est[day], n)
        else:
            assert abs(est[day] - n) / n < 0.36, (day, est[day], n)


def test_priority_sample_prefers_heavy_rows(spark):
    """Weighted sampling must overrepresent heavy rows: the sampled mean
    n_chars should exceed the corpus mean."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    picked = sampling.priority_sample(docs, "doc_id", "n_chars", 25)
    assert picked.count() == 25
    sample_mean = picked.agg(F.avg("n_chars")).first()[0]
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean


def test_boilerplate_strip_removes_common_segments_in_order(spark):
    """Hand-built corpus: the 'ad banner' 2-token segment sits in 3/4
    docs (df=75% ≥ 50% threshold) and must vanish from each, with the
    surviving words reassembled in original order; the rare segment
    stays. Docs reduced to nothing come back as '' (not dropped)."""
    from etl_dashboard_project_1_spark.operators import textops

    rows = [
        (1, "ad banner alpha beta gamma delta"),
        (2, "ad banner epsilon zeta"),
        (3, "ad banner"),
        (4, "unique words only here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in textops.boilerplate_strip(
            df, "doc_id", "text", seg_words=2, max_df_frac=0.5
        ).collect()
    }
    assert out[1]["text_clean"] == "alpha beta gamma delta"
    assert out[1]["n_segments"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "epsilon zeta"
    assert out[3]["text_clean"] == "" and out[3]["n_removed"] == 1
    assert out[4]["text_clean"] == "unique words only here"
    assert out[4]["n_removed"] == 0


def _boilerplate_strip_quadratic(df, id_col, text_col, seg_words, max_df_frac):
    """Reference: the original slice-segmented, array_contains-probed
    boilerplate_strip (O(len²) segmentation, O(boiler) per-segment scan)."""
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    starts = F.sequence(F.lit(1), n, F.lit(seg_words))
    segs = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(w, i, seg_words)))
    base = df.filter(F.col(text_col).isNotNull() & (F.col(text_col) != "")).select(
        F.col(id_col).alias("_id"), segs.alias("_segs")
    )
    occ = base.select("_id", F.explode("_segs").alias("_seg"))
    seg_df = occ.groupBy("_seg").agg(F.countDistinct("_id").alias("_df"))
    total = base.agg(F.count(F.lit(1)).alias("_n_docs"))
    boiler = (
        seg_df.crossJoin(F.broadcast(total))
        .filter(F.col("_df") >= F.lit(max_df_frac) * F.col("_n_docs"))
        .agg(F.sort_array(F.collect_list("_seg")).alias("_boiler"))
    )
    kept = F.filter(
        F.col("_segs"), lambda s: ~F.array_contains(F.col("_boiler"), s)
    )
    return base.crossJoin(F.broadcast(boiler)).select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size("_segs").cast("long").alias("n_segments"),
        (F.size("_segs") - F.size(kept)).cast("long").alias("n_removed"),
    )


def test_boilerplate_scalable_matches_original(spark):
    """The hash-join boilerplate_strip must produce EXACTLY the rows of
    the original quadratic form (reference above) on the real documents
    corpus and on the hand-built edge corpus (all-boiler docs reduced
    to '')."""
    from etl_dashboard_project_1_spark.operators import textops

    original = _boilerplate_strip_quadratic

    def rows(df):
        return sorted(
            (r["doc_id"], r["text_clean"], r["n_segments"], r["n_removed"])
            for r in df.collect()
        )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    for seg_words, frac in ((2, 0.05), (3, 0.5)):
        a = original(docs, "doc_id", "text", seg_words, frac)
        b = textops.boilerplate_strip(docs, "doc_id", "text", seg_words, frac)
        assert rows(a) == rows(b), (seg_words, frac)
    edge = spark.createDataFrame(
        [
            (1, "ad banner alpha beta gamma delta"),
            (2, "ad banner epsilon zeta"),
            (3, "ad banner"),
            (4, "unique words only here"),
        ],
        ["doc_id", "text"],
    )
    assert rows(original(edge, "doc_id", "text", 2, 0.5)) == rows(
        textops.boilerplate_strip(edge, "doc_id", "text", 2, 0.5)
    )


def test_bloom_prefilter_is_exact_safe_and_prunes(spark):
    """The Bloom pre-filter must (a) keep EVERY fact row whose key joins
    the dim — no false negatives, so filtered⋈dim ≡ plain⋈dim — and
    (b) actually prune: rows surviving the filter should be close to the
    true semi-join count (false positives bounded by the sizing math)."""
    from pyspark.sql import functions as F

    from etl_dashboard_project_1_spark.operators import bloom

    ev = load_table(spark, SF, "events").select("event_id", "user_id")
    dim = (
        load_table(spark, SF, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    pre = bloom.bloom_prefilter(ev, "user_id", dim, "user_id")

    plain = ev.join(dim, "user_id").count()
    filtered_join = pre.join(dim, "user_id").count()
    assert filtered_join == plain  # exact-safe

    semi = ev.join(dim, "user_id", "left_semi").count()
    survivors = pre.count()
    total = ev.count()
    assert survivors >= semi  # no false negatives
    # 2^16 bits vs ~few hundred keys → fp rate ≪ 1%; allow 1% of the
    # non-matching rows through before calling the filter broken
    assert survivors - semi <= max(1, (total - semi) * 0.01), (survivors, semi, total)


def test_batch_topk_matches_naive_global_topk(spark):
    """Two-phase windowed batch top-k must be EXACT: equal to running the
    single-query brute-force cosine_topk per query vector."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    batch = vector.cosine_topk_batch(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k=7, coarse_buckets=4
    ).collect()
    got = {(r["qid"], r["rank"]): (r["vec_id"], round(r["cosine"], 9)) for r in batch}
    for q in queries.collect():
        naive = vector.cosine_topk(
            emb, "vec_id", "embedding", q["embedding"], k=7, exclude_id=q["vec_id"]
        ).collect()
        for rank, row in enumerate(naive, start=1):
            assert got[(q["vec_id"], rank)] == (row["vec_id"], round(row["cosine"], 9))
    assert len(got) == queries.count() * 7


def test_batch_topk_plan_broadcasts_queries_not_corpus(spark):
    """The corpus side must reach the scorer without a shuffle: query batch
    broadcast, corpus scan direct; the only shuffle exchanges are the two
    top-k windows."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    df = vector.cosine_topk_batch(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k=7
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    import re

    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)", plan)
    assert len(shuffles) <= 2, shuffles


def test_prefix_filter_jaccard_is_lossless(spark):
    """PPJoin prefix filtering must be EXACT: identical pair set and
    jaccard values to the naive inverted-index join, at two thresholds."""
    docs = load_table(spark, SF, "documents")
    for t in (0.2, 0.5):
        naive = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, method="allpairs"
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, method="prefix"
            ).collect()
        }
        assert pref == naive and naive


def test_binary_file_ingestion_end_to_end(spark, tmp_path):
    """The real media-ingestion path: binaryFile source reads raw blobs
    distributed, doc_id parses from the filename convention, and the
    payloads flow straight into the decode/meta operator (same pipeline
    the fake attach_binary payloads exercise)."""
    blobs = {1: b"\x89PNG-ish-bytes-one", 2: b"\x89PNG-ish-bytes-two!", 7: b"x"}
    for i, b in blobs.items():
        (tmp_path / f"img_{i:04d}.bin").write_bytes(b)
    (tmp_path / "notes.txt").write_text("skipped by glob")

    df = multimodal.read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 7}
    assert rows[1]["payload"] == blobs[1]
    assert rows[2]["length"] == len(blobs[2])

    meta = {r["doc_id"]: r for r in multimodal.extract_image_meta(df).collect()}
    assert set(meta) == {1, 2, 7}
    assert meta[1]["n_bytes"] == len(blobs[1])


def test_orc_format_roundtrip(spark, tmp_path):
    """ORC sink/source round-trip (the second columnar format Spark ships
    natively) — schema and values survive, predicate pushdown reaches the
    ORC scan on re-read."""
    df = load_table(spark, SF, "nation")
    out = str(tmp_path / "nation_orc")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    plan = (
        back.filter(F.col("n_nationkey") == 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "searchArgument" in plan or "PushedFilters" in plan, plan


def test_duplicated_spans_merges_maximal_run(spark):
    """Two docs sharing one verbatim 8-token span (k=5 → 4 overlapping
    grams) must yield exactly ONE maximal span per doc with exact
    boundaries; a doc with no cross-doc 5-gram yields nothing. A doc
    shorter than k yields no grams even though its tokens all lie in the
    shared span, and two physical rows of one doc_id are one document:
    grams they share are not cross-document."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"unique one two three {shared} tail1 tailx"),
        (2, f"{shared} other words entirely distinct here"),
        (3, "completely disjoint text with no overlap at all whatsoever"),
        (4, "alpha beta gamma delta"),
        (5, "both copies of this row repeat verbatim"),
        (5, "both copies of this row repeat verbatim"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.duplicated_spans(df, "doc_id", "text", k=5).collect()
    }
    assert set(out) == {1, 2}
    # doc 1: shared span starts at token index 4 (0-based), 8 tokens long
    assert out[1]["span_start"] == 4 and out[1]["span_end"] == 11
    assert out[1]["span_tokens"] == 8 and out[1]["n_grams"] == 4
    # doc 2: same span at position 0
    assert out[2]["span_start"] == 0 and out[2]["span_end"] == 7
    assert out[2]["span_tokens"] == 8 and out[2]["n_grams"] == 4


def test_bm25_ranks_verbatim_copy_first(spark):
    """A document that verbatim-contains the query document's text must
    outrank unrelated documents; ranks are 1..k dense per query."""
    from etl_dashboard_project_1_spark.operators import textops

    rows = [
        (0, "rare quantum flux capacitor calibration"),
        (1, "rare quantum flux capacitor calibration plus trailing words"),
        (2, "entirely unrelated prose about cooking pasta dinners"),
        (3, "another unrelated document describing garden furniture"),
        (4, "quantum mechanics textbook chapter on flux"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.bm25_topk(df, "doc_id", "text", query_ids=(0,), k=3).collect()
    by_rank = {r["rank"]: r["doc_id"] for r in out}
    assert by_rank[1] == 1  # the verbatim superset wins
    # only docs sharing >= 1 query term are candidates: doc 4 (quantum,
    # flux) ranks second; docs 2-3 (zero overlap) are never scored
    assert sorted(by_rank) == [1, 2]
    assert by_rank[2] == 4
    # scores strictly ordered (no accidental ties among top docs)
    scores = [r["score"] for r in sorted(out, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True)


def test_cms_never_underestimates_any_token(spark):
    """CMS property on real data: estimate >= exact for EVERY probed
    token (not just the emitted top-10) — probe the full vocabulary."""
    from etl_dashboard_project_1_spark.plans import extension_queries as eq

    out = eq.heavy_hitters_cms(spark, SF).collect()
    assert len(out) == 10
    for r in out:
        assert r["cms_estimate"] >= r["exact_count"]
        assert r["overcount"] == r["cms_estimate"] - r["exact_count"]


def test_minhash_signature_tracks_true_jaccard(spark):
    """Regression for the near-monotone hash family: doc pair (229, 263)
    has true 3-gram Jaccard 0.956, so a sound 8-hash signature must agree
    on most components in BOTH shingle modes. The old a=2i+1 multipliers
    were near-monotone on [0, P) — every hash picked the set's raw
    minimum and this pair agreed 0/8 in hashed mode."""
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id").isin([229, 263]))
    for hashed in (False, True):
        sig = dedup.minhash_signatures(docs, "doc_id", "text", 3, 8, hashed=hashed).collect()
        s = {r["_id"]: [r[f"_m{i}"] for i in range(8)] for r in sig}
        agree = sum(int(s[229][i] == s[263][i]) for i in range(8))
        assert agree >= 5, f"hashed={hashed}: only {agree}/8 components agree"


def test_ngram_novelty_bounds_and_first_doc_full_novelty(spark):
    """Novelty is a [0,1] fraction; the corpus's smallest doc_id with ≥3
    words introduces every one of its grams, so its novelty is exactly 1;
    and total novel-gram mass equals the distinct-gram count."""
    from etl_dashboard_project_1_spark.plans import extension_queries as ex

    rows = ex.ngram_novelty(spark, SF).collect()
    assert rows, "expected docs with >=3 words"
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)
    first = min(rows, key=lambda r: r["doc_id"])
    assert first["novelty"] == 1.0
    docs = load_table(spark, SF, "documents")
    n_distinct_grams = (
        docs.select(F.explode(dedup.word_shingles("text", 3)).alias("g"))
        .select("g").distinct().count()
    )
    # sum over docs of (novelty * n_grams) counts each distinct gram once,
    # at its introducing doc (novelty is rounded at 4 decimals: allow slack)
    novel_mass = sum(r["novelty"] * r["n_grams"] for r in rows)
    assert abs(novel_mass - n_distinct_grams) < 0.0001 * sum(r["n_grams"] for r in rows)


def test_colloc_lift_respects_support_floor_and_ranking(spark):
    """Every reported pair meets the support floor; lift is positive and
    the list is sorted by (lift desc, pair asc); lift agrees with a
    hand-computed value for the top pair."""
    from etl_dashboard_project_1_spark.plans import extension_queries as ex

    rows = ex.colloc_lift_topk(spark, SF).collect()
    assert 0 < len(rows) <= 20
    assert all(r["pair_count"] >= 5 for r in rows)
    assert all(r["lift"] > 0 for r in rows)
    keys = [(-r["lift"], r["w1"], r["w2"]) for r in rows]
    assert keys == sorted(keys)
    # recompute the top pair's lift from raw counts
    docs = load_table(spark, SF, "documents")
    tok = docs.select(F.explode(dedup.tokens("text")).alias("t")).filter(F.col("t") != "")
    top = rows[0]
    c1x = tok.filter(F.col("t") == top["w1"]).count()
    c1y = tok.filter(F.col("t") == top["w2"]).count()
    n1 = tok.count()
    expect = (top["pair_count"] / c1x) * (n1 / c1y)
    assert abs(top["lift"] - expect) < 1e-4


def test_source_tv_bounds_and_self_distance(spark):
    """TV distance lies in [0,1); a single-source corpus has TV exactly 0
    (its distribution IS the corpus distribution)."""
    from etl_dashboard_project_1_spark.plans import extension_queries as ex

    rows = ex.source_unigram_tv(spark, SF).collect()
    assert rows
    assert all(0.0 <= r["tv"] < 1.0 for r in rows)
    # restrict the corpus to one source: distance must collapse to 0
    one = load_table(spark, SF, "documents").filter(F.col("source") == rows[0]["source"])
    one.createOrReplaceTempView("_tv_one_source")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        one.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            load_table(spark, SF, t).limit(0).write.parquet(f"{d}/{t}.parquet")
        solo = ex.source_unigram_tv(spark, d).collect()
    assert len(solo) == 1 and solo[0]["tv"] == 0.0


def test_dense_ids_are_a_contiguous_permutation_in_global_order(spark):
    """dense_ids_by must reproduce the single-partition row_number result
    (a contiguous 1..N permutation in the total order) while actually
    spreading the sort across range partitions."""
    from etl_dashboard_project_1_spark.operators import layout

    df = spark.range(0, 997).select(
        (F.col("id") * 2654435761 % 10007).alias("k"), F.col("id").alias("uid")
    )
    out = layout.dense_ids_by(df, [F.desc("k"), F.asc("uid")], id_name="rank", partitions=8)
    rows = out.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 998))
    keys = [(-r["k"], r["uid"]) for r in rows]
    assert keys == sorted(keys)
    # the rank window must be keyed on the partition id and nothing may
    # collapse to a single-partition exchange (the range sort itself hides
    # behind the localCheckpoint lineage cut; AQE may coalesce the tiny
    # TEST output, so assert plan properties, not runtime partition count)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
    assert "SinglePartition" not in plan


def test_triangle_count_on_known_graphs(spark):
    """K4 has exactly 4 triangles; a path has none; duplicate and
    reversed edges must not change the count."""
    from etl_dashboard_project_1_spark.operators import graph

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # duplicates + reversed direction + a self-loop, all to be canonicalized
    edges = k4 + [(b, a) for a, b in k4] + [(0, 1), (2, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    path = spark.createDataFrame([(i, i + 1) for i in range(5)], ["src", "dst"])
    for fn in (graph.triangle_count, graph.triangle_count_arrays):
        row = fn(df).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
        row = fn(path).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (6, 5, 0)


def test_winsorize_bounds_and_clip_counts(spark):
    """percentile_disc thresholds: strictly-below-lo count stays under
    ceil(n/100); above-hi count stays within floor(n/100); thresholds
    bracket, and the winsorized sum is bounded by the thresholds."""
    from etl_dashboard_project_1_spark.plans.incremental_queries import (
        winsorize_event_values,
    )

    rows = winsorize_event_values(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        n = r["n_events"]
        assert r["lo_cents"] <= r["hi_cents"]
        assert r["n_clipped_lo"] <= (n + 99) // 100 - 1 + 1  # cum(<lo) < ceil(n/100)
        assert r["n_clipped_hi"] <= n // 100
        assert n * r["lo_cents"] <= r["sum_winsorized_cents"] <= n * r["hi_cents"]


def test_compaction_bins_are_contiguous_and_complete(spark):
    """Bins must partition the shard space into contiguous, ordered,
    non-overlapping ranges covering every document."""
    from etl_dashboard_project_1_spark.plans.profile_queries import (
        SHARD_BUCKETS,
        layout_compaction_bins,
    )

    rows = sorted(layout_compaction_bins(spark, SF).collect(), key=lambda r: r["bin_id"])
    docs = load_table(spark, SF, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert sum(r["n_shards"] for r in rows) == SHARD_BUCKETS
    for a, b in zip(rows, rows[1:]):
        assert a["max_shard"] < b["min_shard"]  # contiguous ordered ranges
    assert rows[0]["min_shard"] == 0 and rows[-1]["max_shard"] == SHARD_BUCKETS - 1


def test_bpe_candidates_match_bruteforce(spark):
    """The distributed pair ranking must equal a driver-side brute force
    over the same corpus (adjacency counts overlapping, savings not)."""
    import re
    from collections import Counter

    from etl_dashboard_project_1_spark.plans.extension_queries import (
        bpe_merge_candidates,
    )

    texts = [r["text"] for r in load_table(spark, SF, "documents").collect()]
    wcounts = Counter(
        w for t in texts for w in re.findall(r"[a-z]+", t.lower()) if len(w) >= 2
    )
    pair_count, n_words, saved = Counter(), Counter(), Counter()
    for w, c in wcounts.items():
        pairs = {w[i : i + 2] for i in range(len(w) - 1)}
        for i in range(len(w) - 1):
            pair_count[w[i : i + 2]] += c
        for p in pairs:
            n_words[p] += 1
            saved[p] += c * ((len(w) - len(w.replace(p, ""))) // 2)
    expected = sorted(pair_count.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = sorted(bpe_merge_candidates(spark, SF).collect(), key=lambda r: r["merge_rank"])
    assert [(r["pair"], r["pair_count"]) for r in got] == expected
    for r in got:
        assert r["n_words"] == n_words[r["pair"]]
        assert r["tokens_saved"] == saved[r["pair"]]


def test_pca_gate_holds_and_moments_are_exact(spark):
    """Gate TRUE (Rayleigh monotonicity), and the exact axis moments must
    match a numpy recomputation of the quantized corpus."""
    import numpy as np

    from etl_dashboard_project_1_spark.plans.curation_queries import (
        PCA_SCALE,
        emb_pca_variance_gate,
    )

    r = emb_pca_variance_gate(spark, SF).collect()[0]
    emb = np.array(
        [row["embedding"] for row in load_table(spark, SF, "embeddings").collect()],
        dtype=np.float64,
    )
    q = np.floor(emb * PCA_SCALE + 0.5).astype(object)  # python ints, no overflow
    n = q.shape[0]
    var = [(n * int((q[:, i] ** 2).sum()) - int(q[:, i].sum()) ** 2) for i in range(64)]
    assert r["pca_beats_best_axis"] is True
    assert r["n_vecs"] == n
    assert r["best_axis"] == max(range(64), key=lambda i: (var[i], -i))
    assert r["best_axis_var"] == max(var)
    assert r["trace_var"] == sum(var)


def test_centroid_classifier_beats_chance_and_sums(spark):
    """Confusion matrix covers every vector; nearest-class-mean accuracy
    must clearly beat the 10-class chance rate on the labeled corpus."""
    from etl_dashboard_project_1_spark.plans.curation_queries import (
        emb_centroid_classifier_eval,
    )

    rows = emb_centroid_classifier_eval(spark, SF).collect()
    total = sum(r["n_vecs"] for r in rows)
    assert total == load_table(spark, SF, "embeddings").count()
    correct = sum(r["n_vecs"] for r in rows if r["is_correct"])
    assert all((r["true_label"] == r["pred_label"]) == r["is_correct"] for r in rows)
    assert correct / total > 0.2  # 10 classes -> chance is 0.1


def test_inverted_index_consistency_and_caps(spark):
    """Postings sorted, capped, and df/ttf consistent with a direct
    recount for every indexed token."""
    from collections import Counter

    from etl_dashboard_project_1_spark.plans.extension_queries import (
        POSTINGS_CAP,
        inverted_index_build,
    )

    rows = inverted_index_build(spark, SF).collect()
    assert rows
    docs = load_table(spark, SF, "documents").collect()
    df_c, ttf_c = Counter(), Counter()
    for r in docs:
        toks = [t for t in r["text"].lower().split() if t]
        ttf_c.update(toks)
        df_c.update(set(toks))
    for r in rows:
        assert r["df"] >= 2
        assert r["df"] == df_c[r["token"]]
        assert r["ttf"] == ttf_c[r["token"]]
        # postings ship as ONE comma-joined string (driver canon cannot
        # hash list cells) — decode before checking order and cap
        postings = [int(x) for x in r["postings"].split(",")]
        assert postings == sorted(postings)
        assert len(postings) == min(r["df"], POSTINGS_CAP)


def test_feature_hashing_invariants(spark):
    """l1 norm bounded by the doc's token count; nnz bounded by the
    dimension; norm columns agree with the emitted vector."""
    from etl_dashboard_project_1_spark.plans.extension_queries import (
        FH_DIM,
        text_feature_hashing,
    )

    rows = {r["doc_id"]: r for r in text_feature_hashing(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").collect()
    assert len(rows) == len(docs)
    for d in docs:
        n_tok = len([t for t in d["text"].lower().split() if t])
        r = rows[d["doc_id"]]
        # the vector ships as ONE comma-joined string (driver canon)
        features = [int(x) for x in r["features"].split(",")]
        assert len(features) == FH_DIM
        assert r["l1_norm"] == sum(abs(v) for v in features) <= n_tok
        assert r["nnz"] == sum(1 for v in features if v != 0) <= FH_DIM


def test_mrr_eval_internal_consistency(spark):
    """rr = 2520 // first relevant rank; discounted gain includes at
    least the first relevant term; no metrics without relevant hits."""
    from etl_dashboard_project_1_spark.plans.extension_queries import (
        MRR_SCALE,
        retrieval_mrr_eval,
    )

    for r in retrieval_mrr_eval(spark, SF).collect():
        if r["n_relevant"] == 0:
            assert r["first_rel_rank"] == 0 == r["rr_x2520"] == r["rdg_x2520"]
        else:
            assert 1 <= r["first_rel_rank"] <= 10
            assert r["rr_x2520"] == MRR_SCALE // r["first_rel_rank"]
            assert r["rdg_x2520"] >= r["rr_x2520"]


def test_late_data_audit_bounds(spark):
    """Out-of-order counts and lateness sums obey their containments."""
    from etl_dashboard_project_1_spark.plans.timeseries_queries import late_data_audit

    rows = late_data_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dropped_by_10m_watermark"] <= r["n_out_of_order"] <= r["n_events"]
        assert r["sum_late_us"] >= r["max_late_us"] >= 0


def test_cusum_closed_form_equals_recursion(spark):
    """The window-native closed form (R_t − min(0, min_{j≤t} R_j)) must
    equal the textbook recursion S_t = max(0, S_{t−1} + z_t) exactly."""
    from collections import defaultdict

    from etl_dashboard_project_1_spark.plans.incremental_queries import (
        CUSUM_K_DEN,
        CUSUM_K_NUM,
        cusum_rate_shift,
    )

    got = {
        (r["event_type"], r["day"]): r["cusum_scaled"]
        for r in cusum_rate_shift(spark, SF).collect()
    }
    daily = defaultdict(dict)
    for r in load_table(spark, SF, "events").collect():
        key = str(r["ts"].date())
        daily[r["event_type"]][key] = daily[r["event_type"]].get(key, 0) + 1
    for t, per_day in daily.items():
        days = sorted(per_day)
        xs = [per_day[d] for d in days]
        sx, nd = sum(xs), len(xs)
        s = 0
        for d, x in zip(days, xs):
            z = x * nd * CUSUM_K_DEN - sx * CUSUM_K_DEN - sx * CUSUM_K_NUM
            s = max(0, s + z)
            assert got[(t, d)] == s


def test_observed_metrics_match_direct_aggregates(spark):
    """Observation counters accumulated in-flight during one action must
    equal a direct aggregation — audit numbers with no second scan."""
    from etl_dashboard_project_1_spark.operators import quality

    ev = load_table(spark, SF, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    observed_df, obs = quality.observed(
        ev.select("event_type", cents.alias("cents")),
        "audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.count(F.when(F.col("cents").isNull(), 1)).alias("n_null"),
    )
    downstream = observed_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    per_type = {r["event_type"]: r["n"] for r in downstream.collect()}
    direct = ev.select(cents.alias("c")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    ).first()
    assert obs.get["n_rows"] == direct["n"] == sum(per_type.values())
    assert obs.get["sum_cents"] == direct["s"]
    assert obs.get["n_null"] == 0


def test_rolling_corr_bounded(spark):
    """Pearson r must stay within [-1, 1] on every full window."""
    from etl_dashboard_project_1_spark.plans.timeseries_queries import (
        rolling_corr_daily,
    )

    rows = rolling_corr_daily(spark, SF).collect()
    assert rows
    for r in rows:
        if r["corr_7d"] is not None:
            assert -1.0 <= r["corr_7d"] <= 1.0


def test_position_attribution_conserves_credit(spark):
    """Every attributed purchase's credits must sum to exactly 10000 bp
    — no basis point created or lost by the U-shaped split."""
    from etl_dashboard_project_1_spark.plans.timeseries_queries import (
        position_attribution,
    )

    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    n_attr = (
        p.join(c, "user_id")
        .filter(
            (F.col("cts") <= F.col("pts"))
            & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 7 DAYS"))
        )
        .select("pid")
        .distinct()
        .count()
    )
    total_bp = position_attribution(spark, SF).agg(F.sum("sum_bp")).first()[0]
    assert total_bp == 10000 * n_attr


def test_incremental_minhash_equals_cross_set_slice_of_self_join(spark):
    """The incremental (batch vs corpus) pipeline must find exactly the
    self-join pairs that span the two sets — same banding, same
    threshold, so the admission path loses nothing the one-shot
    pipeline would catch."""
    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    incr = {
        frozenset((r["new_id"], r["dup_of"]))
        for r in dedup.minhash_incremental_pairs(
            batch, corpus, "doc_id", "text", threshold=0.2, hashed=False
        ).collect()
    }
    full = {
        frozenset((r["id_a"], r["id_b"]))
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.2, hashed=False
        ).collect()
        if (r["id_a"] % 7 == 3) != (r["id_b"] % 7 == 3)
    }
    assert incr == full


def test_containment_prefix_filter_is_lossless(spark):
    """The one-sided prefix-filtered candidate generation must reproduce
    the naive all-postings join exactly (the filter is an any-subset
    bound, not an approximation)."""
    from etl_dashboard_project_1_spark.operators.dedup import (
        _shingle_table, containment_pairs)

    docs = load_table(spark, SF, "documents")
    got = {
        (r["contained_id"], r["container_id"], round(r["containment"], 6))
        for r in containment_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    sh = _shingle_table(docs, "doc_id", "text", 3)
    sizes = {r["_id"]: r["n"] for r in sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    import collections
    members = collections.defaultdict(set)
    for r in sh.collect():
        members[r["_id"]].add(r["_s"])
    want = set()
    for a in members:
        for b in members:
            if a == b:
                continue
            c = len(members[a] & members[b]) / sizes[a]
            if c >= 0.8:
                want.add((a, b, round(c, 6)))
    assert got == want
    assert want, "fixture should contain at least one containment pair"


def test_minhash_estimate_gate_twins_agree_fully(spark):
    """Planted corpus: identical twin docs must surface as a verified
    pair with true Jaccard 1.0 and ALL 8 signature components agreeing
    (identical shingle set => identical signature — the invariant the
    estimate gate reports per pair); a disjoint doc must share nothing."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words about spark partitions and shuffles here"),
        ],
        "doc_id long, text string",
    )
    from etl_dashboard_project_1_spark.plans import extension_queries as ex

    rows = ex.minhash_estimate_records(docs).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["jaccard"] == 1.0
    assert rows[0]["sig_matches"] == 8  # identical shingle set => identical signature
    sig = dedup.minhash_signatures(docs, "doc_id", "text", 3, 8, hashed=False).collect()
    s = {r["_id"]: [r[f"_m{i}"] for i in range(8)] for r in sig}
    assert s[1] == s[2]
    assert s[1] != s[3]


def test_vocab_roundtrip_gate_holds_on_corpus(spark):
    """decode(encode(doc)) must reproduce every document exactly — a
    False row means the vocabulary mapping or position order broke."""
    from etl_dashboard_project_1_spark.plans import extension_queries as ex

    rows = ex.vocab_roundtrip_gate(spark, SF).collect()
    assert rows
    bad = [r["doc_id"] for r in rows if not r["roundtrip_ok"]]
    assert not bad, f"roundtrip failed for docs {bad[:5]}"


def test_corpus_datacard_invariants(spark):
    """Grid cells must partition the corpus: n_docs sums to the corpus
    size, dups never exceed docs, and a cell's vocabulary can't exceed
    its token count."""
    from etl_dashboard_project_1_spark.plans import curation_queries as cq

    rows = cq.corpus_datacard(spark, SF).collect()
    n_corpus = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_corpus
    # a cell CAN be 100% dups: fingerprint groups are global, so the
    # keeper may sit in a different (source, lang) cell
    assert all(0 <= r["n_exact_dups"] <= r["n_docs"] for r in rows)
    assert all(r["distinct_tokens"] <= r["n_tokens"] for r in rows)
    assert all(r["avg_chars"] > 0 for r in rows)


def test_soft_dedup_weights_mass_conservation(spark):
    """Every document gets a weight; cluster_size matches the actual
    member count; weight is exactly 10000 DIV size; and each cluster's
    total mass lands within one floor-division step of one document's
    worth (10000 bp) — the invariant that makes soft dedup a
    reweighting, not a lossy filter."""
    from collections import Counter

    from etl_dashboard_project_1_spark.plans import curation_queries as cq

    rows = cq.soft_dedup_weights(spark, SF).collect()
    assert len(rows) == load_table(spark, SF, "documents").count()
    sizes = Counter(r["cluster"] for r in rows)
    for r in rows:
        assert sizes[r["cluster"]] == r["cluster_size"]
        assert r["weight_bp"] == 10000 // r["cluster_size"]
    mass = Counter()
    for r in rows:
        mass[r["cluster"]] += r["weight_bp"]
    assert all(10000 - sizes[c] < m <= 10000 for c, m in mass.items())


def test_quota_largest_remainder_sums_to_budget(spark):
    """Hamilton-method invariants: quotas sum to EXACTLY the slot budget,
    every source gets at least its floor share and at most floor+1, and
    the +1s go to the largest remainders (tie: source asc)."""
    from etl_dashboard_project_1_spark.plans import round5_queries as r5

    rows = r5.quota_largest_remainder(spark, SF).collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert sum(r["quota"] for r in rows) == r5.QUOTA_SLOTS
    bumped, unbumped = [], []
    for r in rows:
        fl = r["n_docs"] * r5.QUOTA_SLOTS // total_docs
        assert r["quota"] in (fl, fl + 1)
        (bumped if r["quota"] == fl + 1 else unbumped).append(
            (r["remainder"], r["source"])
        )
    # every bumped source outranks every unbumped one in (rem DESC, src ASC)
    # — i.e. the WORST bumped rank key still precedes the BEST unbumped one
    if bumped and unbumped:
        worst_bumped = max((-r, s) for r, s in bumped)
        best_unbumped = min((-r, s) for r, s in unbumped)
        assert worst_bumped < best_unbumped


def test_interval_overlap_join_invariants(spark):
    """Qualifying pairs stay within the gap tolerance, distances are
    non-negative, every reported user really has both purchase and error
    activity — and the gate is non-degenerate (rows exist at sf0.01,
    where 35 purchase/error event pairs sit within 30 min)."""
    from etl_dashboard_project_1_spark.plans import round5_queries as r5

    sf = "/root/testdata/sf0.01"
    rows = r5.interval_overlap_join(spark, sf).collect()
    assert rows, "proximity join degenerated to empty — gate proves nothing"
    ev = load_table(spark, sf, "events")
    both = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct().collect()
    } & {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "error")
        .select("user_id").distinct().collect()
    }
    gap_us = r5.OVERLAP_GAP_S * 1_000_000
    for r in rows:
        assert r["n_pairs"] >= 1
        assert 0 <= r["n_intersecting"] <= r["n_pairs"]
        assert 0 <= r["min_dist_us"] <= gap_us
        assert r["sum_dist_us"] >= r["min_dist_us"]
        assert r["user_id"] in both


def test_ols_trend_internal_consistency(spark):
    """The closed-form slope/r² agree with a NumPy-free reference fit on
    the same daily counts; r² bounded in [0, 10000] basis points."""
    from collections import Counter
    import math

    from etl_dashboard_project_1_spark.plans import round5_queries as r5

    rows = {r["event_type"]: r for r in r5.ols_daily_trend_by_type(spark, SF).collect()}
    ev = load_table(spark, SF, "events").select(
        "event_type", F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("x")
    ).collect()
    per_type = {}
    for r in ev:
        per_type.setdefault(r["event_type"], Counter())[r["x"]] += 1
    for etype, daily in per_type.items():
        xs, ys = list(daily.keys()), list(daily.values())
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        num, den, syc = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
        r = rows[etype]
        assert r["n_days"] == n and r["n_events"] == sy
        assert r["slope_ppm"] == math.floor(1_000_000.0 * float(num) / float(den))
        assert 0 <= r["r2_bp"] <= 10000
        assert r["r2_bp"] == math.floor(
            10000.0 * float(num) * float(num) / (float(den) * float(syc))
        )


def test_rfm_segments_partition_customers(spark):
    """Segment codes are valid (digits 1..4), every ordering customer
    lands in exactly one segment, and total cents is conserved."""
    from etl_dashboard_project_1_spark.plans import round5_queries as r5

    rows = r5.rfm_segments(spark, SF).collect()
    orders = load_table(spark, SF, "orders")
    n_active = orders.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_active
    total = sum(r["total_cents"] for r in rows)
    exact = orders.select(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("t")
    ).first()["t"]
    assert total == exact
    for r in rows:
        code = r["segment"]
        rfm = (code // 100, (code // 10) % 10, code % 10)
        assert all(1 <= d <= r5.RFM_BUCKETS for d in rfm), code


# Reference: the original list-slicing shingle CTE (O(len²) per doc).
_QUADRATIC_SHINGLES_CTE = r"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                ELSE [] END)) AS s
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents)
)
"""


def test_fast_shingle_cte_matches_shared_cte_multiset():
    """The linear lead()-window extension_queries._SHINGLES_CTE must
    reproduce the original quadratic CTE's (doc_id, shingle) MULTISET
    exactly — per-physical-row distinct, so duplicated rows keep per-copy
    shingle sets (dedup_keep_best is not dupes-exempt) — on the real
    corpus, a fully-duplicated corpus, and a hand-built edge corpus (<3
    tokens, repeated in-doc shingles, irregular whitespace)."""
    import duckdb

    from etl_dashboard_project_1_spark.plans.extension_queries import _SHINGLES_CTE

    probe_old = "WITH " + _QUADRATIC_SHINGLES_CTE + " SELECT doc_id, s FROM sh"
    probe_new = "WITH " + _SHINGLES_CTE + " SELECT doc_id, s FROM sh"

    def multiset(con, sql):
        return sorted(con.execute(sql).fetchall())

    real = "SELECT * FROM read_parquet('/root/testdata/sf0.01/documents.parquet')"
    corpora = {
        "real": real,
        "dupes": f"SELECT * FROM ({real}) UNION ALL SELECT * FROM ({real})",
        "edge": """SELECT * FROM (VALUES
            (1, 'a b c d e'),
            (2, 'a b c a b c a b c'),
            (3, 'one two'),
            (4, 'single'),
            (5, ''),
            (6, '  leading  and   inner   gaps '),
            (7, 'a b c d e')) t(doc_id, text)""",
    }
    for label, src in corpora.items():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS {src}")
        assert multiset(con, probe_old) == multiset(con, probe_new), label


def test_shingle_expr_and_dsl_forms_identical(spark):
    """r10 optimization guard: the shingle builders have two construction
    paths — a single parsed SQL expression for plain column names (one
    py4j round trip) and the original Column-DSL fold for Column inputs.
    Both must yield byte-identical arrays and schemas, including the
    <k-word empty-array contract, on edge-shaped text."""
    rows = [
        (1, "a b c d e"),
        (2, "a b c a b c a b c"),
        (3, "one two"),
        (4, "single"),
        (5, ""),
        (6, "  leading  and   inner   gaps "),
        (7, "A B c D e"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for fn in (dedup.word_shingles, dedup.hashed_word_shingles):
        for k in (2, 3):
            a = df.select("doc_id", fn("text", k).alias("x")).orderBy("doc_id")
            b = df.select("doc_id", fn(F.col("text"), k).alias("x")).orderBy("doc_id")
            assert a.schema == b.schema, (fn.__name__, k)
            assert a.collect() == b.collect(), (fn.__name__, k)


def test_shingle_sets_tokencount_filter_matches_old_size_filter(spark):
    """r10 optimization guard: shingle_sets now drops <k-word docs with
    size(tokens) >= k (cheap, pushdown-safe) instead of size(_sh) > 0
    (which let Catalyst duplicate the whole shingle expression below a
    fan_out exchange). The predicates must keep the same kept-set: every
    emitted row has _n > 0, and every doc with >= k tokens is emitted."""
    docs = load_table(spark, SF, "documents")
    for hashed in (False, True):
        ss = dedup.shingle_sets(docs, "doc_id", "text", 3, hashed=hashed)
        assert ss.filter(F.col("_n") <= 0).count() == 0
        n_kept = ss.count()
        n_eligible = docs.filter(
            F.size(F.split(F.lower("text"), r"\s+")) >= 3
        ).count()
        assert n_kept == n_eligible
