"""Property-based (hypothesis) tests for the semantics-rich operators:
random inputs, pure-Python reference models, exact agreement required.

These pin behaviors example tests can miss — exact-boundary session gaps,
all-null ffill prefixes, chunk boundaries landing exactly on document
edges — with shrinking when they fail. Example counts are kept small
because every example round-trips through Spark.
"""

import datetime
import os
import sys

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_dashboard_project_1_spark.operators import cleaning, sampling, sessionize

# default 15 keeps CI fast (every example round-trips through Spark);
# set SPARK_GRAFT_HYPO_EXAMPLES=200 for a soak run
SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPO_EXAMPLES", "15")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# --- sessionize: gap semantics incl. EXACT boundaries -----------------------

EPOCH = datetime.datetime(2024, 1, 1)

# offsets in whole seconds, deliberately dense around the 30s gap boundary
offsets = st.lists(
    st.integers(min_value=0, max_value=120).flatmap(
        lambda base: st.sampled_from([base, 29, 30, 31, 60])
    ),
    min_size=1,
    max_size=12,
)


@given(groups=st.lists(offsets, min_size=1, max_size=3))
@settings(**SETTINGS)
def test_sessionize_matches_reference_model(spark, groups):
    gap = 30
    rows = []
    for uid, offs in enumerate(groups):
        t = 0
        for i, step in enumerate(sorted(offs)):
            t = step if i == 0 else t + step
            rows.append((uid, len(rows), EPOCH + datetime.timedelta(seconds=t)))
    sdf = spark.createDataFrame(rows, "user_id int, event_id int, ts timestamp")
    got = {
        (r["user_id"], r["event_id"]): r["session_seq"]
        for r in sessionize.sessionize(
            sdf, "ts", ["user_id"], gap_seconds=gap, tiebreak=["event_id"]
        ).collect()
    }
    # reference model: strict > gap starts a new session
    by_user: dict[int, list] = {}
    for uid, eid, ts in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        seq = 0
        prev = None
        for ts, eid in sorted(evs):
            if prev is None or (ts - prev).total_seconds() > gap:
                seq += 1
            prev = ts
            assert got[(uid, eid)] == seq, (uid, eid, ts)


# --- pack_chunks: concat-then-chunk reference -------------------------------

@given(
    tokens=st.lists(st.integers(min_value=1, max_value=7), min_size=1, max_size=20),
    chunk=st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_pack_chunks_matches_reference_model(spark, tokens, chunk):
    rows = [(0, i, n) for i, n in enumerate(tokens)]
    sdf = spark.createDataFrame(rows, "grp int, doc_id int, n_tokens int")
    got = {
        r["doc_id"]: r["chunk_id"]
        for r in sampling.pack_chunks(
            sdf, "n_tokens", chunk, by=["grp"], order_cols=["doc_id"]
        ).collect()
    }
    running = 0
    for i, n in enumerate(tokens):
        assert got[i] == running // chunk, (i, n, running, chunk)
        running += n


# --- ffill: pandas reference, partitioned and global paths ------------------

values = st.lists(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50).map(float)),
    min_size=1,
    max_size=25,
)


@given(vals=values, n_groups=st.integers(min_value=1, max_value=3))
@settings(**SETTINGS)
def test_ffill_matches_pandas_reference(spark, vals, n_groups):
    rows = [(i % n_groups, i, v) for i, v in enumerate(vals)]
    schema = T.StructType(
        [
            T.StructField("g", T.IntegerType()),
            T.StructField("ord", T.IntegerType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    sdf = spark.createDataFrame(rows, schema)
    pdf = pd.DataFrame(rows, columns=["g", "ord", "x"]).sort_values("ord")

    part = {
        (r["g"], r["ord"]): r["x"]
        for r in cleaning.ffill(sdf, ["x"], ["ord"], partition_cols=["g"]).collect()
    }
    expect_part = pdf.assign(x=pdf.groupby("g")["x"].ffill())
    for _, row in expect_part.iterrows():
        want = None if pd.isna(row["x"]) else row["x"]
        assert part[(row["g"], row["ord"])] == want

    glob = {
        r["ord"]: r["x"]
        for r in cleaning.ffill_global(sdf, ["x"], ["ord"], num_partitions=3).collect()
    }
    expect_glob = pdf.assign(x=pdf["x"].ffill())
    for _, row in expect_glob.iterrows():
        want = None if pd.isna(row["x"]) else row["x"]
        assert glob[row["ord"]] == want, (row["ord"], glob[row["ord"]], want)


# --- as-of join: pandas merge_asof reference --------------------------------

asof_times = st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12)


@given(lefts=asof_times, rights=asof_times, strict=st.booleans())
@settings(**SETTINGS)
def test_asof_join_matches_merge_asof(spark, lefts, rights, strict):
    from etl_dashboard_project_1_spark.operators.asof import asof_join

    lrows = [
        (0, i, EPOCH + datetime.timedelta(seconds=int(t))) for i, t in enumerate(lefts)
    ]
    rrows = [
        (0, EPOCH + datetime.timedelta(seconds=int(t)), float(j))
        for j, t in enumerate(rights)
    ]
    left = spark.createDataFrame(lrows, "uid int, lid int, ts timestamp")
    right = spark.createDataFrame(rrows, "uid int, ts timestamp, payload double")
    got = {
        r["lid"]: r["payload_asof"]
        for r in asof_join(
            left, right, on="ts", by=["uid"], right_payload=["payload"], strict=strict
        ).collect()
    }
    # reference: latest right with ts <= (or <) left ts; ties among right
    # rows at the same ts resolve to the LAST one in sort order (the
    # window's last() sees them sequentially) — replicate by stable sort.
    rsorted = sorted(enumerate(rights), key=lambda p: (p[1], p[0]))
    for i, lt in enumerate(lefts):
        best = None
        for j, rt in rsorted:
            if (rt < lt) if strict else (rt <= lt):
                best = float(j)
        assert got[i] == best, (i, lt, got[i], best, strict)


@given(
    xs=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            # adversarial: values that land ON or NEAR .xx5 boundaries,
            # where decimal-repr rounding (bround) and binary half-even
            # (numpy) disagree — 11.5*0.87 was a real golden miss
            st.integers(min_value=-10**6, max_value=10**6).map(lambda k: k / 1000 + 0.005),
            st.integers(min_value=-10**4, max_value=10**4).map(lambda k: k / 8),  # dyadic
        ),
        min_size=1,
        max_size=40,
    ),
    decimals=st.integers(min_value=0, max_value=4),
)
@settings(**SETTINGS)
def test_numpy_round_matches_numpy_bitwise(spark, xs, decimals):
    """derive.numpy_round must equal np.round on the same doubles —
    including the .xx5 boundary cases where Spark's own bround/round both
    diverge from numpy (that divergence is why the helper exists; the
    golden-replay artifact pins it end-to-end)."""
    import numpy as np

    from etl_dashboard_project_1_spark.operators import derive

    df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(xs)], "i int, x double")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", derive.numpy_round("x", decimals).alias("y")).collect()
    }
    for i, x in enumerate(xs):
        want = float(np.round(np.float64(x), decimals))
        assert got[i] == want or (got[i] != got[i] and want != want), (x, decimals, got[i], want)


# --- histogram percentile_disc thresholds vs a pure-Python model ------------


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=40),
    pnum=st.sampled_from([1, 25, 50, 75, 99]),
)
@settings(**SETTINGS)
def test_histogram_disc_percentiles_match_reference(spark, vals, pnum):
    """Threshold = smallest value whose cumulative count reaches
    ceil(p·n) — the histogram-window formulation must equal the sorted
    list indexed directly, including heavy-tie and boundary cases."""
    import math

    df = spark.createDataFrame([(v,) for v in vals], "v long").withColumn(
        "g", F.lit("g")
    )
    _, th = cleaning.histogram_disc_percentiles(
        df, "g", "v", {"t": (pnum, 100)}
    )
    got = th.collect()[0]["t"]
    ordered = sorted(vals)
    want = ordered[math.ceil(pnum * len(vals) / 100) - 1]
    assert got == want


# --- containment pairs: prefix filter vs brute force on random corpora ------

_words = st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"])
_doc = st.lists(_words, min_size=0, max_size=12).map(" ".join)


@given(docs=st.lists(_doc, min_size=2, max_size=8))
@settings(**SETTINGS)
def test_containment_pairs_match_brute_force(spark, docs):
    """containment_pairs (one-sided prefix filter + exact verify) must
    equal the brute-force |A∩B|/|A| over word-3-gram sets for ANY corpus
    — including duplicate texts, sub-3-word docs, and prefix lengths
    landing exactly on the ceil boundary."""
    from etl_dashboard_project_1_spark.operators.dedup import containment_pairs

    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["contained_id"], r["container_id"], round(r["containment"], 9))
        for r in containment_pairs(sdf, "doc_id", "text", k=3, threshold=0.8).collect()
    }

    def grams(text):
        w = text.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    sets = {i: grams(d) for i, d in enumerate(docs)}
    want = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            c = len(sa & sb) / len(sa)
            if c >= 0.8:
                want.add((a, b, round(c, 9)))
    assert got == want


@given(docs=st.lists(_doc, min_size=2, max_size=8), split=st.integers(0, 6))
@settings(**SETTINGS)
def test_incremental_minhash_subset_of_exact_jaccard(spark, docs, split):
    """Every (batch, corpus) pair the incremental pipeline emits must be
    jaccard-exact and ≥ threshold per the brute-force model (banding may
    MISS low-similarity pairs — that is its contract — but everything
    emitted must be verified truth)."""
    from etl_dashboard_project_1_spark.operators.dedup import (
        minhash_incremental_pairs)

    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    batch = sdf.filter(F.col("doc_id") % 7 == split % 7)
    corpus = sdf.filter(F.col("doc_id") % 7 != split % 7)
    got = minhash_incremental_pairs(
        batch, corpus, "doc_id", "text", threshold=0.2
    ).collect()

    def grams(text):
        w = text.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    sets = {i: grams(d) for i, d in enumerate(docs)}
    for r in got:
        sa, sb = sets[r["new_id"]], sets[r["dup_of"]]
        want = len(sa & sb) / len(sa | sb)
        assert abs(r["jaccard"] - want) < 1e-9
        assert r["jaccard"] >= 0.2
        assert r["new_id"] % 7 == split % 7 and r["dup_of"] % 7 != split % 7


# --- soft dedup weights vs union-find reference model -----------------------

@given(docs=st.lists(_doc, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_soft_dedup_weights_match_union_find_model(spark, docs):
    """soft_dedup_weight_records (pair generator → min-label components →
    1/size basis points) must equal a Python union-find over brute-force
    ≥0.2-Jaccard 3-gram pairs for ANY corpus — duplicate texts, sub-3-word
    docs (gramless singletons), and chains that merge clusters
    transitively."""
    from etl_dashboard_project_1_spark.plans.curation_queries import (
        soft_dedup_weight_records)

    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cluster"], r["cluster_size"], r["weight_bp"])
        for r in soft_dedup_weight_records(sdf).collect()
    }

    def grams(text):
        w = text.lower().split()
        return {" ".join(w[i: i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    sets = {i: grams(d) for i, d in enumerate(docs)}
    parent = {i: i for i in range(len(docs))}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.2:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for i in range(len(docs)):
        members.setdefault(find(i), []).append(i)
    want = {}
    for root, ms in members.items():
        label = min(ms)
        for m in ms:
            want[m] = (label, len(ms), 10000 // len(ms))
    assert got == want


# --- skyline: sweep form vs brute-force dominance ----------------------------

_sky_point = st.tuples(
    st.integers(min_value=0, max_value=1),   # group
    st.integers(min_value=0, max_value=8),   # cost (dense -> many ties)
    st.integers(min_value=0, max_value=8),   # benefit
)


@given(points=st.lists(_sky_point, min_size=1, max_size=14))
@settings(**SETTINGS)
def test_skyline_matches_brute_force_dominance(spark, points):
    """The window-sweep skyline equals the O(n²) dominance definition:
    keep p iff no q in the same group has (cost <=, benefit >=) with at
    least one strict. Dense integer domains force cost AND benefit ties,
    the cases the sweep's two-window split must get right."""
    from etl_dashboard_project_1_spark.operators.skyline import skyline_2d

    rows = [(i, g, c, b) for i, (g, c, b) in enumerate(points)]
    df = spark.createDataFrame(rows, ["id", "g", "cost", "benefit"])
    got = {r["id"] for r in skyline_2d(df, ["g"], "cost", "benefit").collect()}

    expect = set()
    for i, (g, c, b) in enumerate(points):
        dominated = any(
            qg == g and qc <= c and qb >= b and (qc < c or qb > b)
            for j, (qg, qc, qb) in enumerate(points)
            if j != i
        )
        if not dominated:
            expect.add(i)
    assert got == expect


# --- Hamilton quota: Spark operator vs Python reference ----------------------

_counts = st.lists(
    st.integers(min_value=0, max_value=50), min_size=1, max_size=8
).filter(lambda xs: sum(xs) > 0)


@given(counts=_counts, slots=st.integers(min_value=1, max_value=40))
@settings(**SETTINGS)
def test_hamilton_quota_matches_reference_model(spark, counts, slots):
    """Largest-remainder allocation: quotas sum to exactly the budget and
    match a direct Python implementation (floor shares, then +1 to the
    largest remainders, ties by key ascending) — including zero-count
    keys and slot budgets smaller than the key count."""
    keys = [f"k{i}" for i in range(len(counts))]
    df = spark.createDataFrame(list(zip(keys, counts)), ["k", "cnt"])
    got = {
        r["k"]: (r["quota"], r["remainder"])
        for r in sampling.hamilton_quota(df, "k", "cnt", slots).collect()
    }

    total = sum(counts)
    fl = {k: c * slots // total for k, c in zip(keys, counts)}
    rem = {k: (c * slots) % total for k, c in zip(keys, counts)}
    leftover = slots - sum(fl.values())
    order = sorted(keys, key=lambda k: (-rem[k], k))
    bumped = set(order[:leftover])
    expect = {k: (fl[k] + (1 if k in bumped else 0), rem[k]) for k in keys}
    assert got == expect
    assert sum(q for q, _ in got.values()) == slots


# --- max drawdown: stacked windows vs a sequential loop ----------------------

_deltas = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),      # user
        st.integers(min_value=-100, max_value=100),  # signed delta
    ),
    min_size=1,
    max_size=16,
)


@given(seq=_deltas)
@settings(**SETTINGS)
def test_max_drawdown_windows_match_sequential_model(spark, seq):
    """The running-sum → running-max → max(peak − bal) window stack
    equals the obvious per-user sequential loop (peak tracking)."""
    from pyspark.sql import Window

    rows = [
        (u, EPOCH + datetime.timedelta(seconds=i), i, d)
        for i, (u, d) in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "delta"])
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    run = (
        df.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("bal", F.sum("delta").over(w_run))
        .withColumn("peak", F.max("bal").over(w_run))
    )
    got = {
        r["user_id"]: (r["peak_cents"], r["final"], r["dd"])
        for r in run.groupBy("user_id")
        .agg(
            F.max("bal").alias("peak_cents"),
            F.max_by("bal", "rn").alias("final"),
            F.max(F.col("peak") - F.col("bal")).alias("dd"),
        )
        .collect()
    }

    expect = {}
    for u in {u for u, _ in seq}:
        bal = peak = None
        max_bal = final = dd = None
        bal_run = 0
        peak_run = None
        dd = 0
        for uu, d in seq:
            if uu != u:
                continue
            bal_run += d
            peak_run = bal_run if peak_run is None else max(peak_run, bal_run)
            dd = max(dd, peak_run - bal_run)
            final = bal_run
            max_bal = bal_run if max_bal is None else max(max_bal, bal_run)
        expect[u] = (max_bal, final, dd)
    assert got == expect


# --- interval proximity join: windows vs brute-force model --------------------

_iv_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),     # user
        st.booleans(),                             # True=purchase, False=error
        st.integers(min_value=0, max_value=200),   # offset seconds (gap=30s)
    ),
    min_size=2,
    max_size=14,
)


@given(events=_iv_events)
@settings(**SETTINGS)
def test_interval_proximity_join_matches_brute_force(spark, events):
    """Sessionize each (user, type) stream with a 30s gap, then pair
    purchase×error intervals within the gap: the window/join plan must
    equal a pure-Python model (loop sessionizer + all-pairs scan) —
    including events landing EXACTLY on the gap boundary (strict >) and
    timestamp ties across types."""
    from pyspark.sql import Window

    GAP = 30
    gap_us = GAP * 1_000_000

    rows = [
        (u, "purchase" if p else "error", i,
         EPOCH + datetime.timedelta(seconds=off))
        for i, (u, p, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "event_id", "ts"])

    from etl_dashboard_project_1_spark.operators.sessionize import session_stats

    iv = session_stats(
        df, "ts", by=["user_id", "event_type"], gap_seconds=GAP,
        tiebreak=["event_id"],
    ).select(
        "user_id",
        "event_type",
        F.unix_micros("session_start").alias("s"),
        F.unix_micros("session_end").alias("e"),
    )
    p = iv.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("ps"), F.col("e").alias("pe")
    )
    er = iv.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("_uid"), F.col("s").alias("es"), F.col("e").alias("ee")
    )
    dist = F.greatest(
        F.lit(0).cast("long"),
        F.greatest(F.col("ps"), F.col("es")) - F.least(F.col("pe"), F.col("ee")),
    )
    got = sorted(
        (r["user_id"], r["dist_us"])
        for r in p.join(
            er,
            (p.user_id == er._uid)
            & (F.col("ps") <= F.col("ee") + F.lit(gap_us))
            & (F.col("es") <= F.col("pe") + F.lit(gap_us)),
        ).select("user_id", dist.alias("dist_us")).collect()
    )

    # pure-Python model
    def sessions(times_us):
        out = []
        for t in sorted(times_us):
            if out and t - out[-1][1] <= gap_us:
                out[-1][1] = t
            else:
                out.append([t, t])
        return out

    expect = []
    for u in {u for u, _, _ in events}:
        ep = [off * 1_000_000 + int(EPOCH.timestamp()) * 1_000_000
              for uu, isp, off in events if uu == u and isp]
        ee_ = [off * 1_000_000 + int(EPOCH.timestamp()) * 1_000_000
               for uu, isp, off in events if uu == u and not isp]
        for ps, pe in sessions(ep):
            for es, ee2 in sessions(ee_):
                if ps <= ee2 + gap_us and es <= pe + gap_us:
                    expect.append((u, max(0, max(ps, es) - min(pe, ee2))))
    assert got == sorted(expect)


# --- RFM quartile coding: dense-rank formula vs Python model ------------------

_rfm_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=30),   # custkey (unique-ified below)
        st.integers(min_value=0, max_value=5),    # last_day offset
        st.integers(min_value=1, max_value=5),    # freq (dense -> ties)
        st.integers(min_value=0, max_value=9),    # cents (dense -> ties)
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(rows=_rfm_rows)
@settings(**SETTINGS)
def test_rfm_coding_matches_reference_model(spark, rows):
    """The range-partitioned dense-rank + floor((i-1)·4/n)+1 coding must
    equal a direct Python ranking on the same (metric, custkey) total
    order — dense domains force heavy metric ties, where only the
    custkey tiebreak keeps the code deterministic."""
    from etl_dashboard_project_1_spark.operators import layout

    df = spark.createDataFrame(rows, ["o_custkey", "last_day", "freq", "cents"])
    ranked = layout.dense_ids_by(df, [F.asc("last_day"), F.asc("o_custkey")], id_name="ri")
    ranked = layout.dense_ids_by(ranked, [F.asc("freq"), F.asc("o_custkey")], id_name="fi")
    ranked = layout.dense_ids_by(ranked, [F.asc("cents"), F.asc("o_custkey")], id_name="mi")
    n = len(rows)

    def code(i):
        return (i - 1) * 4 // n + 1

    got = {
        r["o_custkey"]: (code(r["ri"]), code(r["fi"]), code(r["mi"]))
        for r in ranked.collect()
    }

    def py_rank(key):
        order = sorted(rows, key=key)
        return {r[0]: i + 1 for i, r in enumerate(order)}

    ri = py_rank(lambda r: (r[1], r[0]))
    fi = py_rank(lambda r: (r[2], r[0]))
    mi = py_rank(lambda r: (r[3], r[0]))
    expect = {k: (code(ri[k]), code(fi[k]), code(mi[k])) for k, *_ in rows}
    assert got == expect
