#!/usr/bin/env python
"""Tiny-input robustness sweep: run EVERY (query, oracle) pair against
N-row mirrors of the tables and compare engines.

The empty-table sweep (test_scale_plans) catches crashes on NO data;
this catches the next failure class up: semantics that diverge when
frames are tiny but non-empty — NULL ordering of degenerate aggregates
(the bootstrap_ci_mean NULLS FIRST/LAST bug), div-by-zero on empty
GROUPS, scalar-subquery vs ungrouped-aggregate row-count differences,
broken referential integrity (a 3-row orders table references customers
that don't exist in the 3-row customer table, so every join path sees
empty or partial matches).

Tables are the FIRST n rows of the sf0.001 testdata in primary-key
order — real schema, real values, deterministic.

Usage: python tools/tiny_sweep.py [n_rows] [--rebuild]
Prints one line per non-MATCH query and a JSON summary; exit 1 only on
Spark-side crashes (mismatches are triage output, not failures — the
documented divergence classes live in PLANS.md).
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC_SF = "/root/testdata/sf0.001"

KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


#: per-table constant-folds for the --ties mode: every sortable PAYLOAD
#: column becomes one value while keys stay unique, so EVERY window /
#: argmax / top-k order is a total tie — any ranking that lacks an
#: id tiebreak goes nondeterministic and diverges between engines
#: (the r5 near-miss class, tested adversarially).
TIES = {
    "events": "event_id, TIMESTAMP '2024-01-15 12:00:00' AS ts, user_id,"
              " event_type, 42.0::DOUBLE AS value, props",
    "orders": "o_orderkey, o_custkey, o_orderstatus, 1000.0::DOUBLE AS o_totalprice,"
              " DATE '1995-06-15' AS o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
                " 10.0::DOUBLE AS l_quantity, 100.0::DOUBLE AS l_extendedprice,"
                " 0.05::DOUBLE AS l_discount, 0.02::DOUBLE AS l_tax, l_returnflag,"
                " l_linestatus, DATE '1995-06-15' AS l_shipdate",
    "part": "p_partkey, p_name, p_brand, p_type, 10::BIGINT AS p_size,"
            " 50.0::DOUBLE AS p_retailprice",
    "customer": "c_custkey, c_name, c_nationkey, 100.0::DOUBLE AS c_acctbal,"
                " c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey, 100.0::DOUBLE AS s_acctbal",
    "documents": "doc_id, 'the quick brown fox jumps over the lazy dog'"
                 " AS text, lang, source, 43::BIGINT AS n_chars",
    "embeddings": "vec_id, list_transform(embedding, x -> 0.125::FLOAT)"
                  " AS embedding, label",
}


#: per-table projections for the --nulls mode: every NULLABLE payload
#:column goes NULL (keys, timestamps and join columns stay) — hunts
#: NULL-ordering and NULL-propagation divergences (Spark ascending
#: default is NULLS FIRST, DuckDB's is NULLS LAST; == vs CASE on NULL).
NULLS = {
    "events": "event_id, ts, user_id, event_type,"
              " NULL::DOUBLE AS value, NULL::VARCHAR AS props",
    "orders": "o_orderkey, o_custkey, o_orderstatus,"
              " NULL::DOUBLE AS o_totalprice, o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
                " NULL::DOUBLE AS l_quantity, NULL::DOUBLE AS l_extendedprice,"
                " NULL::DOUBLE AS l_discount, NULL::DOUBLE AS l_tax,"
                " l_returnflag, l_linestatus, l_shipdate",
    "part": "p_partkey, p_name, p_brand, p_type,"
            " NULL::INTEGER AS p_size, NULL::DOUBLE AS p_retailprice",
    "customer": "c_custkey, c_name, c_nationkey,"
                " NULL::DOUBLE AS c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey, NULL::DOUBLE AS s_acctbal",
    "documents": "doc_id, text, NULL::VARCHAR AS lang, source, n_chars",
    "embeddings": "vec_id, embedding, NULL::INTEGER AS label",
}

#: per-table projections for the --unicode mode: adversarial text —
#: accents, CJK, greek, tabs, runs of spaces, regex metacharacters,
#: an empty string every 7th doc — exercising the tokenizer/regex/fold
#: mirrors (Spark split/lower/regexp_replace vs DuckDB regexp_* )
UNICODE = {
    # doc_id % 8 = 7 is the SUPPLEMENTARY-PLANE case (emoji + CJK-B):
    # UTF-16 code units (Spark/Java string order) and UTF-8 bytes
    # (DuckDB order) DISAGREE on these — surrogate pairs 0xD800-0xDFFF
    # sort below U+E000.. in UTF-16 but above in UTF-8 — so any query
    # whose semantics depend on string ORDER of such text diverges by
    # design (the dedup_sorted_neighborhood BMP ordering contract);
    # the sweep exercises that boundary instead of avoiding it.
    "documents": "doc_id,"
                 " CASE WHEN doc_id % 8 = 0 THEN ''"
                 " WHEN doc_id % 8 = 1 THEN 'Ünïcode Tëxt ΣΩΔ façade naïve'"
                 " WHEN doc_id % 8 = 2 THEN '中文文本 日本語 한국어'"
                 " WHEN doc_id % 8 = 3 THEN 'tabs\tand\t\tmultiple   spaces'"
                 " WHEN doc_id % 8 = 4 THEN 'regex .* meta [chars] (here) | $^'"
                 " WHEN doc_id % 8 = 5 THEN 'MiXeD CaSe ÉÈÊ ÀÂÄ ÇÑ'"
                 " WHEN doc_id % 8 = 7 THEN '😀 emoji 🚀 text \U00020000 plane2  private'"
                 " ELSE 'plain english words here again' END AS text,"
                 " lang, source, n_chars",
    "events": "event_id, ts, user_id, event_type, value,"
              " '{\"k\": \"väl üé\"}' AS props",
}


#: per-table projections for the --negatives mode: every third row's
#: money-like payload flips sign — refund purchases (events.value),
#: credited orders (o_totalprice), overdrawn balances (acctbal). Hunts
#: the negative-operand divergence class: ANSI casts crash on leading
#: '-', abs/sign assumptions mis-round, and unguarded `x >= 0`-assuming
#: integer math silently drifts (measured r9: Spark `div` and DuckDB
#: `//` BOTH truncate toward zero, so bare integer division itself
#: agrees on negatives — the axis hunts the guards AROUND it) —
#: the r7-ADVICE ltv/hhi class, systematized. Keys and non-monetary
#: payloads stay untouched. LINEITEM IS DELIBERATELY EXEMPT: the TPC-H
#: spec constrains l_extendedprice = l_quantity * p_retailprice with
#: both factors strictly positive and 0 <= l_discount <= 0.10, so
#: negative lineitem money is outside the domain every lineitem query
#: (q1's exact centi-unit sums, the round6 cents family) is specified
#: over — flipping it would manufacture divergences those queries are
#: contractually allowed to have, not find bugs. Events/orders/balances
#: have no such domain floor (refunds/credits/overdrafts are real), so
#: they are where the negative-operand class genuinely lives.
NEGATIVES = {
    "events": "event_id, ts, user_id, event_type,"
              " CASE WHEN event_id % 3 = 0 THEN -value ELSE value END AS value,"
              " props",
    "orders": "o_orderkey, o_custkey, o_orderstatus,"
              " CASE WHEN o_orderkey % 3 = 0 THEN -o_totalprice"
              " ELSE o_totalprice END AS o_totalprice,"
              " o_orderdate, o_orderpriority",
    "customer": "c_custkey, c_name, c_nationkey,"
                " CASE WHEN c_custkey % 3 = 0 THEN -abs(c_acctbal)"
                " ELSE c_acctbal END AS c_acctbal,"
                " c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey,"
                " CASE WHEN s_suppkey % 3 = 0 THEN -abs(s_acctbal)"
                " ELSE s_acctbal END AS s_acctbal",
}


#: per-table projections for the --bigmoney mode: every money-like
#: payload scales by 1e6 (events.value, order totals, balances, prices
#: — values land at ~1e9-1e11 dollars, 1e11-1e13 cents), keeping the
#: 2-decimal structure so cents conversion stays exact. Hunts the
#: integer-HEADROOM divergence class the house rules claim to preclude:
#: a cents square summed in int64 wraps at these magnitudes (the
#: kruskal div-overflow class), Spark decimal(38,0) overflows to NULL
#: at 1e38 while DuckDB HUGEINT survives to 1.7e38, and any `div`
#: round-half-up form whose 2a+b intermediate rides BIGINT wraps. Rates
#: (discount/tax) stay in domain — scaling them would break the
#: (100−disc) percent identities every cents query is specified over,
#: manufacturing divergences instead of finding bugs.
BIGMONEY = {
    "events": "event_id, ts, user_id, event_type,"
              " value * 1000000 AS value, props",
    "orders": "o_orderkey, o_custkey, o_orderstatus,"
              " o_totalprice * 1000000 AS o_totalprice,"
              " o_orderdate, o_orderpriority",
    "customer": "c_custkey, c_name, c_nationkey,"
                " c_acctbal * 1000000 AS c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey,"
                " s_acctbal * 1000000 AS s_acctbal",
    "part": "p_partkey, p_name, p_brand, p_type, p_size,"
            " p_retailprice * 1000000 AS p_retailprice",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
                " l_quantity, l_extendedprice * 1000000 AS l_extendedprice,"
                " l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate",
}


#: per-table projections for the --longspan mode: every timestamp/date
#: fans out across ~38 years (key-derived deterministic offsets up to
#: 37·379 days), so the calendar frames every "day/window-bounded"
#: query reduces to become SPARSE multi-decade series crossing many
#: year/leap/week boundaries. Hunts the calendar-mirror divergence
#: class: week-of-year and day-of-week conventions, month arithmetic,
#: epoch-day vs date subtraction, year-boundary bucketing — places
#: where the Spark and DuckDB date libraries genuinely disagree and a
#: narrow 3-month fixture can never show it. Values/keys untouched.
LONGSPAN = {
    "events": "event_id, ts + INTERVAL ((event_id % 37) * 379) DAY AS ts,"
              " user_id, event_type, value, props",
    "orders": "o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
              " o_orderdate + INTERVAL ((o_orderkey % 37) * 379) DAY"
              " AS o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
                " l_quantity, l_extendedprice, l_discount, l_tax,"
                " l_returnflag, l_linestatus,"
                " l_shipdate + INTERVAL ((l_orderkey % 37) * 379) DAY"
                " AS l_shipdate",
}


#: per-table projections for the --longtext mode: every document's text
#: inflates to ~218k chars (400 repetitions of the original plus a
#: per-repeat ordinal so the text is long but NOT a pure period — pure
#: repetition would collapse every shingle set to the original's),
#: with n_chars recomputed to stay consistent. Hunts the long-string
#: divergence class: regex/tokenizer behavior at lengths the 40-200
#: char fixtures never reach, chunker boundary arithmetic over
#: hundreds of chunks per doc, repetition/entropy scores on
#: near-periodic text, and any hidden O(len²) blowup (a crash/timeout
#: here is a finding).
#:
#: STATUS: instrumented manual axis, NOT yet a pytest SWEEP_GATES
#: member. Its runs caught and fixed live O(len²) classes
#: (textops.boilerplate_strip's membership scan and slice segmentation;
#: span_dedup_repeated and dedup.duplicated_spans gram building; the
#: shared shingle oracle CTE), but other transform-over-starts gram
#: builders remain in operators/textops.py and operators/dedup.py
#: (e.g. ngram_jaccard verification on 36k-token docs), and the gate
#: lands when the full registry completes in bounded time. The
#: full-registry probe (tools/longtext_probe.py — per-query budget +
#: resume; prefer it over the plain loop here, which one staller
#: blocks) measured 291 MATCH / 15 stalls before the shingle oracle CTE
#: went linear — see the PLANS.md r11 inventory. Run manually:
#:   python tools/longtext_probe.py 50 90        # full inventory
#:   python tools/tiny_sweep.py 50 --longtext --rebuild  # plain loop
LONGTEXT = {
    "documents": "doc_id,"
                 " list_aggr(list_transform(range(1, 401),"
                 "   i -> text || ' r' || i::VARCHAR), 'string_agg', ' ')"
                 " AS text,"
                 " lang, source,"
                 " length(list_aggr(list_transform(range(1, 401),"
                 "   i -> text || ' r' || i::VARCHAR), 'string_agg', ' '))"
                 " ::BIGINT AS n_chars",
}


def build(n_rows: int, out_dir: str, mode: str | None = None) -> None:
    import duckdb

    con = duckdb.connect()
    os.makedirs(out_dir, exist_ok=True)
    proj_map = {
        "ties": TIES, "nulls": NULLS, "unicode": UNICODE,
        "negatives": NEGATIVES, "bigmoney": BIGMONEY,
        "longspan": LONGSPAN, "longtext": LONGTEXT,
    }.get(mode or "", {})
    for t, key in KEYS.items():
        proj = proj_map.get(t, "*")
        base = (
            f"SELECT {proj} FROM read_parquet('{SRC_SF}/{t}.parquet')"
            f" ORDER BY {key} LIMIT {n_rows}"
        )
        if mode == "dupes":
            # at-least-once delivery: every row exists TWICE with
            # identical keys — breaks primary-key uniqueness everywhere
            base = f"WITH b AS ({base}) SELECT * FROM b UNION ALL SELECT * FROM b"
        con.execute(
            f"COPY ({base}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    with open(os.path.join(out_dir, "_BUILT"), "w") as f:
        f.write(f"{n_rows} {mode or 'plain'}")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_rows = int(args[0]) if args else 3
    mode = None
    for m in ("ties", "nulls", "unicode", "dupes", "negatives", "bigmoney",
              "longspan", "longtext"):
        if f"--{m}" in sys.argv:
            mode = m
    suffix = f"_{mode}" if mode else ""
    out_dir = f"/tmp/spark_graft_tiny{n_rows}{suffix}"
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(out_dir, "_BUILT")
    ):
        build(n_rows, out_dir, mode=mode)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("tiny-sweep")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import importlib

    entrymod = importlib.import_module("__spark_entry__")
    from tests.oracle_harness import compare

    q, o = entrymod.queries(), entrymod.oracle_sql()
    crash, mismatch, oracle_err, match = [], [], [], 0
    for i, name in enumerate(q):
        t0 = time.time()
        if name not in o:
            # rows-only: execution check
            try:
                q[name](spark, out_dir).collect()
                match += 1
            except Exception as ex:  # noqa: BLE001
                crash.append((name, repr(ex)[:160]))
                print(f"{i + 1}/{len(q)} {name}: SPARK-CRASH {repr(ex)[:120]}")
            continue
        try:
            ok, msg = compare(spark, q[name], o[name], out_dir)
        except Exception as ex:  # noqa: BLE001
            # classify by ALWAYS re-running the Spark side alone — a
            # substring test on the repr can misfile a Spark crash whose
            # message happens to contain oracle-looking words, silently
            # breaking the exit-1 contract
            r = repr(ex)
            try:
                q[name](spark, out_dir).collect()
                oracle_err.append((name, r[:160]))
                print(f"{i + 1}/{len(q)} {name}: ORACLE-ERR {r[:120]}")
            except Exception as ex2:  # noqa: BLE001
                crash.append((name, repr(ex2)[:160]))
                print(f"{i + 1}/{len(q)} {name}: SPARK-CRASH {repr(ex2)[:120]}")
            continue
        if ok:
            match += 1
        else:
            mismatch.append((name, msg[:160]))
            print(f"{i + 1}/{len(q)} {name}: MISMATCH {msg[:120]} ({time.time() - t0:.1f}s)")

    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "total": len(q),
                "match": match,
                "mismatch": [n for n, _ in mismatch],
                "oracle_err": [n for n, _ in oracle_err],
                "spark_crash": [n for n, _ in crash],
            }
        )
    )
    return 1 if crash else 0


if __name__ == "__main__":
    raise SystemExit(main())
