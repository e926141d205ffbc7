"""SQL-text rendering for the config-driven column builders.

Literals must parse to exactly what ``F.lit`` builds (type and bits),
identifiers must round-trip any column name, and every builder must agree
with the Column-DSL form it replaced (kept below as a local reference).
"""

import math
import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_dashboard_project_1_spark.functions import sqltext, text  # noqa: E402
from etl_dashboard_project_1_spark.operators import cleaning, derive  # noqa: E402
from etl_dashboard_project_1_spark.plans import vehicle_pipeline as vp  # noqa: E402

LITERALS = [
    "'", "\\", "\t", "Ñ", "º", "", "it's a \\'quoted\\' tab\there", "a\nb",
    float("inf"), float("-inf"), -0.0, 0.0, 0.1 + 0.2, 1e-300, 5e-324, 1e300,
    1.7976931348623157e308, 0.87, 374.96, float("nan"),
    0, -1, 2**31 - 1, -(2**31), 2**31, 2**63 - 1, -(2**63),
    True, False, None,
]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return struct.pack("<d", a) == struct.pack("<d", b)
    return type(a) is type(b) and a == b


def test_rendered_literals_equal_f_lit(spark):
    cols = []
    for i, v in enumerate(LITERALS):
        cols += [F.expr(sqltext.lit(v)).alias(f"sql{i}"), F.lit(v).alias(f"lit{i}")]
    df = spark.range(1).select(*cols)
    types = {f.name: f.dataType for f in df.schema.fields}
    row = df.first()
    for i, v in enumerate(LITERALS):
        assert types[f"sql{i}"] == types[f"lit{i}"], (v, sqltext.lit(v))
        assert _same(row[f"sql{i}"], row[f"lit{i}"]), (v, sqltext.lit(v), row[f"sql{i}"])


def test_identifiers_round_trip(spark):
    names = ["AÑO", "a`b", "``", "two words", "x.y"]
    df = spark.createDataFrame([tuple(range(len(names)))], names)
    got = df.select(*[F.expr(sqltext.ident(n)) for n in names])
    assert got.columns == names
    assert list(got.first()) == list(range(len(names)))


def test_builders_reject_columns_without_text(spark):
    with pytest.raises(TypeError, match="withColumn"):
        derive.numeric_cast(F.col("x"))
    # a builder's own Column nests as text
    nested = derive.numeric_cast(cleaning.sentinel_to_null("x"))
    row = spark.createDataFrame([("-",), ("2.5",)], ["x"]).select(nested.alias("y")).collect()
    assert [r["y"] for r in row] == [None, 2.5]


# --- the Column-DSL forms the SQL builders replaced (reference only) --------

def _ref_case_map(c, mapping, default=None):
    expr = None
    for category, values in mapping.items():
        cond = c.isin(list(values))
        expr = F.when(cond, F.lit(category)) if expr is None else expr.when(cond, F.lit(category))
    return expr.otherwise(F.lit(default))


def _ref_factor_product(keys, table):
    expr = None
    for key_values, (src, factor) in table.items():
        cond = None
        for k, v in zip(keys, key_values):
            term = k == F.lit(v)
            cond = term if cond is None else (cond & term)
        val = F.col(src).cast("double") * F.lit(float(factor))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr


def _ref_keyed_source_select(k, table):
    expr = None
    for key_value, src in table.items():
        val = F.col(src).cast("double")
        expr = F.when(k == F.lit(key_value), val) if expr is None else expr.when(
            k == F.lit(key_value), val)
    return expr


def _ref_bucketize(c, edges, labels):
    c = c.cast("double")
    expr = None
    for i, lab in enumerate(labels):
        cond = (c >= F.lit(float(edges[i]))) & (c < F.lit(float(edges[i + 1])))
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    return expr.otherwise(F.lit(None))


def _ref_horizontal_mean(cols):
    total = None
    for c in cols:
        term = F.coalesce(c.cast("double"), F.lit(0.0))
        total = term if total is None else (total + term)
    return total / F.lit(float(len(cols)))


def _ref_numpy_round(c, decimals):
    scale = float(10**decimals)
    return F.rint(c * F.lit(scale)) / F.lit(scale)


def _ref_sentinel(c, sentinel="-"):
    return F.when(c == F.lit(sentinel), F.lit(None)).otherwise(c)


def _ref_normalize(c):
    c = F.coalesce(c.cast("string"), F.lit(""))
    return F.trim(F.translate(F.lower(c), text._ACCENTED, text._PLAIN))


def test_builders_match_column_dsl_reference(spark):
    rows = [
        (" Combustión ", "Gasolina", "3.25", "1000.5", "2699.99", "3.5", None),
        ("VEHÍCULO ELÉCTRICO", None, "7.25", "5", "3859.999", "-", "4"),
        ("vehiculos celda de hidrogeno", "", "11.5", "0.005", "-1e308", "1e-300", "-"),
        (None, "diesel", "10.125", "12", "3860", None, None),
        ("combustion", "gasolina/glp", "1.005", "2.675", "-0.0", "0.1", "0.2"),
    ]
    df = spark.createDataFrame(rows, "P string, K string, A string, B string, W string, "
                                     "M1 string, M2 string")
    table = {("combustion", "gasolina"): ("A", 1.0), ("combustion", "gasolina/glp"): ("B", 0.87),
             ("vehiculo electrico", ""): ("A", 8.6), (None, "diesel"): ("A", 374.96)}
    pairs = {
        "cat": (derive.case_map("P", vp.PROPULSION_CATEGORIES, default=""),
                _ref_case_map(F.col("P"), vp.PROPULSION_CATEGORIES, default="")),
        "norm": (text.normalize_category_col("P"), _ref_normalize(F.col("P"))),
        "factor": (derive.factor_product(["P", "K"], table, decimals=None),
                   _ref_factor_product([F.col("P"), F.col("K")], table)),
        "keyed": (derive.keyed_source_select("K", {"gasolina": "A", "diesel": "B"}),
                  _ref_keyed_source_select(F.col("K"), {"gasolina": "A", "diesel": "B"})),
        "bucket": (derive.bucketize("W", vp.WEIGHT_CLASS_EDGES, vp.WEIGHT_CLASS_LABELS),
                   _ref_bucketize(F.col("W"), vp.WEIGHT_CLASS_EDGES, vp.WEIGHT_CLASS_LABELS)),
        "mean": (derive.horizontal_mean([cleaning.sentinel_to_null("M1"),
                                         cleaning.sentinel_to_null("M2")], decimals=None),
                 _ref_horizontal_mean([_ref_sentinel(F.col("M1")),
                                       _ref_sentinel(F.col("M2"))])),
        "round": (derive.numpy_round(derive.numeric_cast("A"), 2),
                  _ref_numpy_round(F.col("A").cast("double"), 2)),
        "replace": (cleaning.replace_value("K", "", "electrico"),
                    F.when(F.col("K") == F.lit(""), F.lit("electrico")).otherwise(F.col("K"))),
        "fixup": (cleaning.constant_fixup("A", "K", "diesel", 0.0),
                  F.when(F.col("K") == F.lit("diesel"), F.lit(0.0)).otherwise(F.col("A"))),
    }
    got = df.select(*[new.alias(n) for n, (new, _) in pairs.items()])
    want = df.select(*[old.alias(n) for n, (_, old) in pairs.items()])
    assert got.schema == want.schema
    for g, w in zip(got.collect(), want.collect()):
        for n in pairs:
            assert _same(g[n], w[n]), (n, g[n], w[n])
