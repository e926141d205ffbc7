#!/usr/bin/env python
"""Full driver-contract sweep: check every registry entry against its
DuckDB oracle under a bare SparkSession.

Builds a BARE SparkSession on purpose — none of get_spark's configs — so
any dependence on session-level configuration (nanos shim, timezone)
surfaces here before the external driver finds it. Compares each query
against its DuckDB oracle at sf0.01 via tests/oracle_harness.compare;
oracle-less queries get a rows-only execution check.

Usage: python tools/driver_emulation.py [sf_dir]
"""

import sys
import time
import traceback
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import importlib

from pyspark.sql import SparkSession


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("driver-emulation-full")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    entrymod = importlib.import_module("__spark_entry__")
    from tests.oracle_harness import compare

    from tests.oracle_harness import duckdb_connect

    # canonical dtype buckets: Spark result types must agree with what the
    # DuckDB oracle yields (the external driver compares schemas — a bare
    # `F.size` int32 vs DuckDB's BIGINT is a red even when values match)
    # NOTE: deliberately NO array/list entries — the external driver's pandas
    # canonicalizer cannot hash list cells (r4: text_feature_hashing /
    # inverted_index_build err rows), so an array-typed output column must
    # surface here as a canon mismatch, never be legitimized.
    canon_duck = {
        "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "DOUBLE": "f64",
        "FLOAT": "f32", "VARCHAR": "str", "DATE": "date", "BOOLEAN": "bool",
    }
    canon_spark = {
        "bigint": "i64", "int": "i32", "smallint": "i16", "double": "f64",
        "float": "f32", "string": "str", "date": "date", "boolean": "bool",
    }
    con = duckdb_connect(sf)

    q, o = entrymod.queries(), entrymod.oracle_sql()
    results = {}
    for i, name in enumerate(q):
        t0 = time.time()
        try:
            if name in o:
                ok, msg = compare(spark, q[name], o[name], sf)
                results[name] = "MATCH" if ok else f"MISMATCH: {msg[:150]}"
                if ok:
                    stypes = {
                        c: canon_spark.get(t, t) for c, t in q[name](spark, sf).dtypes
                    }
                    rel = con.sql(o[name])
                    dtypes = {
                        c: canon_duck.get(str(t).upper(), str(t))
                        for c, t in zip(rel.columns, rel.types)
                    }
                    bad = {
                        c: (stypes.get(c), dtypes[c])
                        for c in dtypes
                        if stypes.get(c) != dtypes[c]
                    }
                    if bad:
                        results[name] = f"DTYPE-MISMATCH: {bad}"
            else:
                n = q[name](spark, sf).count()
                results[name] = f"rows_only({n})"
        except Exception:
            results[name] = "ERR " + traceback.format_exc().splitlines()[-1][:150]
        print(f"{i + 1:3d}/{len(q)} {name}: {results[name]} ({time.time() - t0:.1f}s)", flush=True)
    bad = {
        k: v for k, v in results.items() if v != "MATCH" and not v.startswith("rows_only")
    }
    print("\nBAD:", len(bad))
    for k, v in bad.items():
        print(" ", k, v)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
