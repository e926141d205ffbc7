"""The vehicle pipeline summary: the paper's refresh chain gated against
the reference's own committed artifact (an EXTERNAL oracle).

This module holds only ``vehicle_pipeline_summary`` and its oracle
``VEHICLE_SUMMARY_SQL``. It keeps its old name because the benchmark's
``perfbench/workloads.py`` imports ``round5_queries.VEHICLE_SUMMARY_SQL``;
it moves to a domain module together with a benchmark change. Every
other query this module once held lives in the module of its family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


# --- vehicle pipeline summary (reference-parity capstone) -------------------

def vehicle_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EP2 vehicle-homologation pipeline, gated against the
    reference's OWN committed artifact: run the full chain (sentinel
    ffill, date parse + year, D3 category normalization, D5 propulsion
    categorization, D8 weight bucketing, the J1/J2 fuzzy importer join)
    on the RAW column slice of the reference's intermediate dump, then
    aggregate by (year, propulsion category, vehicle class). The DuckDB
    oracle reads the reference's derived values from the SAME dump — so
    a green row certifies our derivations against the reference's, not
    against a mirror of our own logic. The full per-row, per-cell replay
    (7,569 rows, measure columns, gas-family means, RUT/IMP_COD) lives in
    tests/test_golden_replay.py; this query surfaces the categorical
    spine of that evidence through the external driver gate.

    Reference behavior: /root/reference/src/transform_pipeline.py:218-251
    (pandas chain), re-expressed as one Column-expression DAG in
    plans/vehicle_pipeline.py. Fixture inputs are data artifacts
    materialized once by tools/make_vehicle_fixture.py and committed.

    Scale shape: the pipeline itself is narrow transforms + one ffill
    (O(partitions) carry) + one blocked fuzzy join; the summary adds a
    single groupBy over ~100 (year × category × class) groups."""
    from . import vehicle_pipeline as vp

    raw = spark.read.parquet(os.path.join(_FIXTURES, "vehicle_raw.parquet"))
    catalog = spark.read.parquet(os.path.join(_FIXTURES, "vehicle_importers.parquet"))
    out = vp.vehicle_pipeline(raw, importer_catalog=catalog)
    return out.groupBy(
        F.col("AÑO").alias("anio"),
        F.col("CATEGORIA_PROPULSION").alias("cat_prop"),
        F.col("TIPO_LDV").alias("tipo_ldv"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("MARCA").alias("n_marcas"),
        F.count("RUT").cast("long").alias("n_rut"),
    )


VEHICLE_SUMMARY_SQL = f"""
SELECT CAST("AÑO" AS INT) AS anio,
       CATEGORIA_PROPULSION AS cat_prop,
       TIPO_LDV AS tipo_ldv,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT MARCA)::BIGINT AS n_marcas,
       sum(CASE WHEN RUT <> '' THEN 1 ELSE 0 END)::BIGINT AS n_rut
FROM read_parquet('{os.path.join(_FIXTURES, "vehicle_golden.parquet")}')
GROUP BY 1, 2, 3
"""

