"""End-to-end: synthetic messy-Excel-shaped input (FIXTURES.md F1) through
header inference (I1-I6) + canonicalization (H1-H8) + the vehicle pipeline
(EP2), asserting reference semantics: ffill, sentinels, CASE categories,
factor arithmetic, bucketing, imputation, fuzzy importer join."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_dashboard_project_1_spark.functions.headers import HeaderCanonicalizer
from etl_dashboard_project_1_spark.operators import cleaning
from etl_dashboard_project_1_spark.plans.vehicle_pipeline import (
    standardize_importers,
    vehicle_pipeline,
)
from etl_dashboard_project_1_spark.sources.excel import (
    infer_header_structure,
    ingest_messy_frame,
)


def messy_frame() -> pd.DataFrame:
    """4 header rows (2 levels + blank spacer), then 6 data rows.

    Layout (columns Unnamed: 0..5):
      col0: 'Marca' at row 0 (single-level)
      col1: 'Fecha de Homologación' at row 0
      col2: 'P.B.V.              (kg)' at row 0
      col3: 'Propulsión' at row 0
      col4: 'Combustible' at row 0
      col5/6: parent 'Ciclo WLTC Emisiones de CO2' at row 0 spanning two
              children at row 1 ('CONDICIÓN CS g/km' / 'CONDICIÓN CD g/km')
      data starts at row 3 (maxrow+2 where maxrow == 1... see below)
    """
    rows = [
        # row 0: parents
        ["Marca", "Fecha de Homologación", "P.B.V.              (kg)", "Propulsión",
         "Combustible", "Ciclo WLTC Emisiones de CO2", None, "Importador", None],
        # row 1: children (merged parents are None)
        [None, None, None, None, None, "CONDICIÓN COMBINADO CS (*) g/km",
         "CONDICIÓN COMBINADO CD (**) g/km", None, None],
        # row 2: stray sub-header cell in a headerless column — its index is
        # the max first-valid, i.e. the reference's ``maxrow``; the column
        # itself is dropped from the mapping (all-null across levels 0/1)
        [None] * 8 + ["(ref.)"],
        # row 3: blank spacer (data starts at maxrow + 2)
        [None] * 9,
        # row 4+: data
        ["toyota", "2024-01-05", "2000", "Combustión", "Gasolina", "120", "-", "Astara Chile S.P.A", None],
        ["JAGUAR", "-", "-", "Combustión", "Diesel", "95.5", "-", "Kaufmann  SA", None],
        ["bmw", "2024-02-01", "3000", "Vehículo Eléctrico", None, "-", "50", "Astara Chile S.P.A", None],
        ["kia", "-", "4100", "Combustión", "Gasolina", "130", "-", "Totally Unknown Zebra Corp", None],
    ]
    pdf = pd.DataFrame(rows, columns=[f"Unnamed: {i}" for i in range(9)])
    return pdf.astype("object").where(pd.notna(pdf), None)


def test_infer_header_structure():
    inf = infer_header_structure(messy_frame())
    assert inf.first_data_row == 2  # driven by the stray row-2 cell
    assert "Unnamed: 8" not in inf.flat_names  # headerless column dropped
    names = inf.flat_names
    assert names["Unnamed: 0"] == "Marca"
    assert names["Unnamed: 5"] == "CONDICIÓN COMBINADO CS (*) g/km Ciclo WLTC Emisiones de CO2"
    assert names["Unnamed: 6"] == "CONDICIÓN COMBINADO CD (**) g/km Ciclo WLTC Emisiones de CO2"


def test_messy_excel_to_clean_pipeline(spark):
    pdf = messy_frame()
    sdf = ingest_messy_frame(spark, pdf, HeaderCanonicalizer())
    cols = set(sdf.columns)
    assert {"MARCA", "FECHA_HOML", "PESO_BRUTO_VH_KG", "PROPULSION", "COMBUSTIBLE"} <= cols

    out = vehicle_pipeline(sdf).orderBy("_row_id").collect()
    assert len(out) == 4

    r0, r1, r2, r3 = out
    # D3: lowercased, accent-stripped categories
    assert [r["MARCA"] for r in out] == ["toyota", "jaguar", "bmw", "kia"]
    assert r0["PROPULSION"] == "combustion"
    assert r2["PROPULSION"] == "vehiculo electrico"
    # N2: '-' repeats previous date/weight
    assert str(r1["FECHA_HOML"]) == "2024-01-05"
    assert r1["PESO_BRUTO_VH_KG"] == 2000.0
    assert str(r3["FECHA_HOML"]) == "2024-02-01"
    # D1: year extract
    assert r0["AÑO"] == 2024
    # D4/N6: null fuel -> '' -> electrico
    assert r2["COMBUSTIBLE"] == "electrico"
    # D5: propulsion categories
    assert r0["CATEGORIA_PROPULSION"] == "ice"
    assert r2["CATEGORIA_PROPULSION"] == "bev"
    # D8: weight classes, >=3860 unlabelled
    assert r0["TIPO_LDV"] == "liviano"
    assert r2["TIPO_LDV"] == "mediano"
    assert r3["TIPO_LDV"] is None


def test_importer_fuzzy_resolution(spark):
    df = spark.createDataFrame(
        [("Astara Chile S.P.A",), ("Totally Unknown Zebra Corp",)], ["IMPORTADOR"]
    )
    catalog = spark.createDataFrame(
        [("Astara Chile SPA", "96.861.240-9", "ASTA968612409")],
        ["NOMBRE_EMP", "RUT", "COD_IMP"],
    )
    resolved, nf = standardize_importers(df, catalog)
    rows = {r["IMPORTADOR"]: r for r in resolved.collect()}
    assert "Astara Chile SPA" in rows  # replaced by catalog spelling
    assert rows["Astara Chile SPA"]["RUT"] == "96.861.240-9"
    assert rows["Astara Chile SPA"]["IMP_COD"] == "ASTA968612409"
    # unresolved keeps raw name, null payload
    assert rows["Totally Unknown Zebra Corp"]["RUT"] is None
    assert [r["IMPORTADOR"] for r in nf.collect()] == ["Totally Unknown Zebra Corp"]


def test_ffill_global_matches_window(spark):
    """Scale-safe two-pass global ffill ≡ single-partition window ffill,
    on rows in order and on shuffled rows, also when the result is
    coalesced afterwards (one task then fills several partitions)."""
    rng = np.random.RandomState(7)
    n = 5000
    vals = [None if rng.rand() < 0.4 else float(i) for i in range(n)]
    pdf = pd.DataFrame({"ord": range(n), "v": vals})
    df = spark.createDataFrame(pdf)
    # reference result via pandas (NaN -> None for comparison)
    expected = [
        None if pd.isna(v) else v for v in pdf.sort_values("ord")["v"].ffill()
    ]

    for name, rows in (("in order", df), ("shuffled", df.repartition(5))):
        filled = cleaning.ffill_global(rows, ["v"], ["ord"], num_partitions=7)
        for out in (filled, filled.coalesce(1)):
            got = out.orderBy("ord").collect()
            assert [r["v"] for r in got] == expected, name


def _write_sheet_csv(pdf, path):
    import csv as _csv

    with open(path, "w", newline="", encoding="utf-8") as f:
        w = _csv.writer(f)
        for row in pdf.itertuples(index=False):
            w.writerow(["" if v is None else v for v in row])


def test_sheetgrid_datasource_partition_per_sheet(spark, tmp_path):
    """Spark-4 Python DataSource scan: one partition per sheet file, raw
    all-string grids, blank cells as None, load order preserved."""
    from etl_dashboard_project_1_spark.sources import sheet_datasource

    _write_sheet_csv(messy_frame(), tmp_path / "sheet_a.csv")
    _write_sheet_csv(messy_frame(), tmp_path / "sheet_b.csv")
    grids = sheet_datasource.read_sheet_grids(spark, str(tmp_path))
    assert grids.rdd.getNumPartitions() == 2
    rows = grids.filter("file = 'sheet_a.csv'").orderBy("row_idx").collect()
    assert [r["row_idx"] for r in rows] == list(range(8))
    assert rows[0]["cells"][0] == "Marca"
    assert rows[3]["cells"][0] is None  # spacer row blank -> None


def test_grids_to_long_matches_driver_side_ingest(spark, tmp_path):
    """Distributed per-sheet inference must agree cell-for-cell with the
    driver-side ingest_messy_frame path on the same sheet."""
    from etl_dashboard_project_1_spark.sources import sheet_datasource

    _write_sheet_csv(messy_frame(), tmp_path / "s.csv")
    grids = sheet_datasource.read_sheet_grids(spark, str(tmp_path))
    long = sheet_datasource.grids_to_long(grids).collect()
    got = {(r["row_id"], r["column"]): r["value"] for r in long}

    wide = ingest_messy_frame(spark, messy_frame(), HeaderCanonicalizer())
    expect = {}
    for r in wide.collect():
        d = r.asDict()
        rid = d.pop("_row_id")
        for col, v in d.items():
            expect[(rid, col)] = None if v is None or str(v) == "<NA>" else str(v)
    assert got == expect
