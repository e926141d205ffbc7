"""Sinks/readers (K1-K6, S5-S6, O3) round-trip tests."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_dashboard_project_1_spark.functions.headers import HeaderCanonicalizer
from etl_dashboard_project_1_spark.session import load_table
from etl_dashboard_project_1_spark.sources import readers, writers

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_with_projection(spark, tmp_path):
    cust = load_table(spark, SF, "customer")
    out = str(tmp_path / "cust_csv")
    writers.write_projected_csv(
        cust, ["c_custkey", "c_mktsegment", "not_a_column"], out, single_file=True
    )
    back = readers.read_csv(spark, out, header=True)
    assert set(back.columns) == {"c_custkey", "c_mktsegment"}
    assert back.count() == cust.count()


def test_data_driven_filename(spark):
    orders = load_table(spark, SF, "orders").withColumn("anio", F.year("o_orderdate"))
    name = writers.data_driven_filename(orders, "anio", prefix="datos3cv")
    assert name.startswith("datos3cv_19")
    assert name.endswith(".csv")
    lo, hi = name.split("_")[1].split(".")[0].split("-")
    assert int(lo) <= int(hi)


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    orders = load_table(spark, SF, "orders").withColumn("anio", F.year("o_orderdate"))
    out = str(tmp_path / "orders_pq")
    writers.write_parquet(orders, out, partition_by=["anio"])
    back = readers.read_parquet_table(spark, out)
    assert back.count() == orders.count()
    # partition pruning: a filter on the partition column prunes directories
    plan = back.filter(F.col("anio") == 1996)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(anio" in plan


def test_union_sheets_with_drift(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([(2,)], ["k"])  # missing column v
    out = readers.union_sheets([a, b])
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "x", 2: None}


def test_acquire_with_fallback():
    def bad_primary():
        raise RuntimeError("site down")

    def good_fallback():
        return "backup.xls"

    path, source = readers.acquire_with_fallback(bad_primary, good_fallback)
    assert (path, source) == ("backup.xls", "fallback")
    path, source = readers.acquire_with_fallback(lambda: "fresh.xls", good_fallback)
    assert (path, source) == ("fresh.xls", "primary")


def test_catalog_audit_csv(tmp_path):
    c = HeaderCanonicalizer()
    c.standardize("Marca")
    c.standardize("CO2 combinado (g/km)")
    out = tmp_path / "audit.csv"
    writers.write_catalog_audit_csv(c.catalog_rows(), out)
    lines = out.read_text().strip().splitlines()
    assert lines[0] == "standard_name,original_name,hash"
    assert len(lines) == 3


def test_json_catalog_roundtrip(tmp_path):
    cat = {"MARCA": {"original_names": ["Marca"], "hashes": ["abc123def456"]}}
    p = tmp_path / "cat.json"
    writers.write_json_catalog(cat, p)
    assert readers.read_json_catalog(p) == cat


def test_events_readable_from_unconfigured_session(spark):
    """Regression (VERDICT r1): the correctness driver builds its OWN
    SparkSession without the nanosAsLong builder config; load_table must
    set the runtime conf itself so events (TIMESTAMP NANOS parquet) reads
    survive any caller session.
    """
    # Simulate the driver's vanilla session: strip the conf, then load.
    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.limit(5).count() == 5


def test_get_spark_defaults_to_usable_cpus_and_warns_once_on_master_mismatch(
    spark, monkeypatch
):
    """With SPARK_GRAFT_CPUS unset get_spark asks for local[<usable CPUs>].
    Reusing the live session on another master returns it with one
    warning that names both masters; a second call does not warn again."""
    import warnings

    from etl_dashboard_project_1_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "_MASTER_WARNED", set())
    requested = f"local[{len(os.sched_getaffinity(0))}]"
    live = spark.sparkContext.master
    # get_spark re-applies its runtime confs to the live session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert session.get_spark() is spark
            assert session.get_spark() is spark
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    msgs = [str(w.message) for w in caught if issubclass(w.category, RuntimeWarning)]
    if live == requested:
        assert msgs == []
    else:
        assert len(msgs) == 1, msgs
        assert requested in msgs[0] and live in msgs[0], msgs[0]


# --- S1-S3 acquisition chain with fake transports ---------------------------

_SAMPLE_HTML = """
<html><body>
  <div class="nav"><a href="/elsewhere">ignore</a></div>
  <a class="btn" id="brxe-dqzlqf" href="https://files.example/datos_3cv.xlsx">Descargar</a>
</body></html>
"""


def test_find_download_link_by_element_id():
    link = readers.find_download_link(_SAMPLE_HTML, "brxe-dqzlqf")
    assert link == "https://files.example/datos_3cv.xlsx"
    # attribute order flipped (href before id) still resolves
    flipped = '<a href="https://x.example/f.xls" id="someid">x</a>'
    assert readers.find_download_link(flipped, "someid") == "https://x.example/f.xls"
    import pytest as _pytest
    with _pytest.raises(LookupError):
        readers.find_download_link(_SAMPLE_HTML, "missing-id")
    with _pytest.raises(LookupError):
        readers.find_download_link('<a id="noref">x</a>', "noref")


def test_scrape_and_download_with_fake_transports(tmp_path):
    """End-to-end S1+S2 on local fakes: the fetched page's link is what
    gets downloaded; no network, no stubs raised."""
    calls = []

    def fake_fetch(url):
        calls.append(("fetch", url))
        return _SAMPLE_HTML

    def fake_download(link, dest):
        calls.append(("download", link))
        p = tmp_path / "raw.xlsx"
        p.write_bytes(b"xlsx-bytes")
        return p

    out = readers.scrape_and_download(
        "https://catalog.example/page", "brxe-dqzlqf", tmp_path / "raw.xlsx",
        fetch=fake_fetch, download=fake_download,
    )
    assert out.read_bytes() == b"xlsx-bytes"
    assert calls == [
        ("fetch", "https://catalog.example/page"),
        ("download", "https://files.example/datos_3cv.xlsx"),
    ]


def test_acquire_fallback_ordering(tmp_path):
    """primary ok -> primary; primary raises -> fallback; both raise ->
    the fallback's exception propagates (reference: scrape first, GCS
    backup second, hard-fail last)."""
    ok = tmp_path / "ok.bin"
    ok.write_bytes(b"x")

    path, src = readers.acquire_with_fallback(lambda: ok, lambda: 1 / 0)
    assert (path, src) == (ok, "primary")

    def boom():
        raise ConnectionError("scrape failed")

    path, src = readers.acquire_with_fallback(boom, lambda: ok)
    assert (path, src) == (ok, "fallback")

    import pytest as _pytest
    with _pytest.raises(ZeroDivisionError):
        readers.acquire_with_fallback(boom, lambda: 1 / 0)


def test_cli_list_and_validation(capsys):
    """CLI `list` enumerates the registry without building a SparkSession;
    unknown query names fail fast."""
    from etl_dashboard_project_1_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary  [oracle]" in out
    assert "sim_ann_ivf  [rows-only]" in out
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["run", "not_a_query"])


def test_csv_quarantine_splits_bad_rows(spark, tmp_path):
    """PERMISSIVE scan with corrupt-record capture: clean rows parse,
    malformed rows land in the quarantine with their raw line — one scan,
    no dropped data, no failed job."""
    from pyspark.sql import types as T

    from etl_dashboard_project_1_spark.sources import readers

    p = tmp_path / "in.csv"
    p.write_text("id,qty,name\n1,10,ok\n2,notanint,bad\n3,30,ok\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )
    good, bad = readers.read_csv_with_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    lines = [r["raw_line"] for r in bad.collect()]
    assert len(lines) == 1 and "notanint" in lines[0]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """Compaction: a fragmented directory (32 shuffle partitions → 32
    files) rewrites to the target file count with identical data."""
    from etl_dashboard_project_1_spark.sources import writers

    out = str(tmp_path / "frag")
    docs = load_table(spark, SF, "documents")
    docs.repartition(32).write.parquet(out)
    import glob

    assert len(glob.glob(out + "/part-*")) == 32
    n_files = writers.compact_parquet(spark, out, target_files=2)
    assert n_files == 2
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution: files written before a column existed read
    together with new files under mergeSchema — old rows surface the new
    column as null, pruning still works."""
    out = str(tmp_path / "evolving")
    docs = load_table(spark, SF, "documents")
    docs.select("doc_id", "lang").write.parquet(out + "/batch=1")
    docs.select("doc_id", "lang", "n_chars").write.parquet(out + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"doc_id", "lang", "n_chars", "batch"}
    n = docs.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("n_chars").isNull()).count() == n


def test_jsonl_roundtrip_with_corrupt_quarantine(spark, tmp_path):
    """JSONL sink/scan round-trip; a corrupt line lands in
    _corrupt_record under PERMISSIVE instead of failing the scan."""
    from pyspark.sql import types as T

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = tmp_path / "docs.jsonl"
    writers.write_jsonl(df, out)
    back = readers.read_jsonl(spark, str(out), schema="id long, s string")
    assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]

    bad = tmp_path / "bad.jsonl"
    bad.mkdir()
    (bad / "part-0.json").write_text('{"id": 1, "s": "ok"}\n{not json\n')
    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    rows = readers.read_jsonl(spark, str(bad), schema=sch).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["id"] == 1
    assert len(corrupt) == 1 and "{not json" in corrupt[0]["_corrupt_record"]


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC round-trip preserves values; a filter on the re-read reaches
    the ORC reader as a pushed filter (same pruning story as parquet)."""
    df = spark.createDataFrame([(i, float(i) * 1.5) for i in range(100)], "id long, v double")
    out = tmp_path / "t.orc"
    writers.write_orc(df, out)
    back = writers.read_orc(spark, out).filter("id >= 90")
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(id,90)" in plan


def test_xml_format_roundtrip(spark, tmp_path):
    """Spark-4 native XML: write nation rows, read them back identically
    (explicit schema on the read — inference double-scans)."""
    from etl_dashboard_project_1_spark.sources.readers import read_xml
    from etl_dashboard_project_1_spark.sources.writers import write_xml

    nation = load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    write_xml(nation, path, row_tag="nation")
    back = read_xml(spark, path, row_tag="nation", schema=nation.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet drops: v1 files lack a column v2
    adds; a mergeSchema read unions the schemas (missing values NULL) —
    the contract an append-only lake relies on when producers upgrade."""
    path = str(tmp_path / "evolving")
    nation = load_table(spark, SF, "nation")
    nation.select("n_nationkey", "n_name").write.parquet(path, mode="append")
    nation.select(
        "n_nationkey", "n_name", "n_regionkey"
    ).withColumn("n_nationkey", F.col("n_nationkey") + 100).write.parquet(
        path, mode="append"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    n = nation.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("n_regionkey").isNull()).count() == n  # v1 rows
    # plain read (no merge) keeps working for consumers pinned to v1
    assert spark.read.parquet(path).count() == 2 * n
