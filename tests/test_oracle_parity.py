"""Every queries() entry with an oracle must hash-match DuckDB locally —
the same comparison the driver runs at sf0.01 (here at sf0.001 for speed;
set SPARK_GRAFT_TEST_SF to widen)."""

import sys
import os

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tests.oracle_harness import compare


def _pairs():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return [(name, q[name], o[name]) for name in q if name in o]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_parity(spark, sf_dir, name, fn, sql):
    ok, msg = compare(spark, fn, sql, sf_dir)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_output_dtypes_match_oracle(spark, sf_dir):
    """Column TYPES must agree with DuckDB too (the driver compares
    schemas): computed ints are widened to long where DuckDB yields
    BIGINT, and the oracles cast DuckDB's odd widths (TINYINT bit_count,
    HUGEINT sum) back to standard ones."""
    import duckdb

    from tests.oracle_harness import duckdb_connect, map_registry

    # NO array/list entries on purpose: the driver's pandas canon cannot
    # hash list cells (r4 failure class) — an array output must mismatch.
    canon_duck = {
        "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "DOUBLE": "f64",
        "FLOAT": "f32", "VARCHAR": "str", "DATE": "date", "BOOLEAN": "bool",
    }
    canon_spark = {
        "bigint": "i64", "int": "i32", "smallint": "i16", "double": "f64",
        "float": "f32", "string": "str", "date": "date", "boolean": "bool",
    }
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    spark_dtypes = dict(map_registry(lambda name: (name, q[name](spark, sf_dir).dtypes), list(o)))
    con = duckdb_connect(sf_dir)
    diffs = {}
    for name, sql in o.items():
        stypes = {c: canon_spark.get(t, t) for c, t in spark_dtypes[name]}
        rel = con.sql(sql)
        dtypes = {c: canon_duck.get(str(t).upper(), str(t)) for c, t in zip(rel.columns, rel.types)}
        bad = {c: (stypes.get(c), dtypes[c]) for c in dtypes if stypes.get(c) != dtypes[c]}
        if bad:
            diffs[name] = bad
    con.close()
    assert not diffs, diffs


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle must still run and return a stable schema."""
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    for name, fn in q.items():
        if name not in o:
            df = fn(spark, sf_dir)
            assert df.columns, name
            assert df.count() >= 0, name


def test_no_oracle_queries_run(spark, sf_dir):
    """Queries without SQL oracles still get the driver's rows-only check
    — make sure each runs end-to-end and yields a stable, non-degenerate
    schema."""
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    for name in [n for n in q if n not in o]:
        df = q[name](spark, sf_dir)
        rows = df.collect()
        assert df.schema.fields, name
        assert rows is not None, name


def test_no_complex_output_columns_anywhere(spark):
    """Registry-wide driver-shape guard (r4 lesson): the external gate's
    pandas canonicalizer sorts the result frame by every column, and list
    /dict cells raise `unhashable type: 'list'` (CORRECTNESS_r04:
    text_feature_hashing, inverted_index_build). NO registered query may
    emit an ArrayType/MapType/StructType column — vectors/postings go out
    as concat_ws scalars or exploded rows."""
    from tests.oracle_harness import _complex_fields

    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in entrymod.queries().items():
        fields = _complex_fields(fn(spark, sf).schema)
        if fields:
            bad[name] = fields
    assert not bad, f"complex output columns (driver canon cannot hash): {bad}"


def test_queries_and_oracles_align():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_complex_output_guard_rejects_deliberate_array(spark):
    """The guard must FAIL on an array-typed output, not just pass on a
    clean registry: both the schema probe and the harness compare() are
    exercised against a deliberately bad query."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import _complex_fields, compare

    def bad_query(spark_, sf_dir_):
        return spark_.range(3).select(F.array(F.col("id")).alias("arr"))

    assert _complex_fields(bad_query(spark, None).schema) == ["arr"]
    ok, msg = compare(spark, bad_query, "SELECT 1", "/root/testdata/sf0.001")
    assert not ok and "complex output columns" in msg
