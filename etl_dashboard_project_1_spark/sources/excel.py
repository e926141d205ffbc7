"""Messy-Excel ingestion with multi-row-header schema inference (I1-I6,
SURVEY.md §2.7 — behavior of /root/reference/src/header_identify_processing.py).

The raw workbook has NO usable header row: headers form a 2-3-row
hierarchical block (parent spanning children, merged cells → nulls,
``Unnamed: N`` placeholders) somewhere in the first ~10 rows, data below.

Architecture: this is metadata-scale work — a driver-side pre-pass over the
first N rows only (pure pandas) that emits ``(first_data_row, rename_map)``.
The DATA is then loaded with that schema and processed fully distributed;
schema inference never touches a data-sized path. At cluster scale the
pre-pass reads only the head of one file; the body can be re-read with
spark-excel or, as here, converted via Arrow ``createDataFrame``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.headers import HeaderCanonicalizer

MAX_HEADER_SCAN = 10


@dataclass
class HeaderInference:
    """Result of the pre-pass: where data starts + flat raw header names."""

    first_data_row: int  # the reference's ``maxrow``
    flat_names: dict[object, str]  # original column label -> flattened header


def first_nonnull_row_per_column(pdf: pd.DataFrame) -> dict[object, int | None]:
    """I1: per column, the index of the first non-null cell (the row where
    that column's header — or data — begins)."""
    return {col: pdf[col].first_valid_index() for col in pdf.columns}


def infer_header_structure(
    pdf: pd.DataFrame, max_scan: int = MAX_HEADER_SCAN
) -> HeaderInference:
    """I2-I6: locate header rows, flatten the hierarchical block.

    - header candidate rows: first-non-null indices < ``max_scan``; their
      max is the first data row; the distinct indices below it are the
      header levels (parent = lowest).
    - the parent level is forward-filled ACROSS columns (merged parent
      cells span right); child levels are forward-filled within each
      parent group.
    - flat name per column = level values joined child-first (reversed
      level order), skipping blanks and pandas ``Unnamed: N`` placeholders.
    """
    starts = [v for v in first_nonnull_row_per_column(pdf).values() if v is not None]
    candidates = [v for v in starts if v < max_scan]
    if not candidates:
        raise ValueError("no plausible header rows found in the scan window")
    first_data_row = max(candidates)
    levels = sorted({v for v in candidates if v < first_data_row})
    if not levels:
        # single-row header: every column starts at the same row
        levels = [first_data_row]

    block = pdf.iloc[levels].T  # rows: original columns; cols: level indices
    block = block.dropna(how="all")
    parent_level = levels[0]
    block[parent_level] = block[parent_level].ffill()

    pieces = []
    for _parent, grp in block.groupby(parent_level, sort=True):
        grp = grp.copy()
        if len(levels) >= 2 and len(grp) > 1:
            grp[levels[1]] = grp[levels[1]].ffill()
        if len(levels) >= 3:
            grp[levels[1]] = grp[levels[1]].ffill()
            grp[levels[2]] = grp[levels[2]].ffill()
        pieces.append(grp.fillna(""))
    flat = pd.concat(pieces).sort_index()

    def join_levels(row) -> str:
        vals = [
            str(v)
            for v in (row[lv] for lv in reversed(levels))
            if v != "" and "Unnamed:" not in str(v)
        ]
        return " ".join(vals)

    names = {idx: join_levels(row) for idx, row in flat.iterrows()}
    return HeaderInference(first_data_row=first_data_row, flat_names=names)


def canonical_rename_map(
    inference: HeaderInference, canonicalizer: HeaderCanonicalizer
) -> dict[object, str]:
    """Flat raw header strings → stable canonical names via the rules
    engine + hash catalog (H7/H8). Runs eagerly on the driver BEFORE plan
    construction — catalog persistence is a pre-plan side effect, never a
    mid-plan one."""
    std = canonicalizer.standardize_all(list(inference.flat_names.values()))
    return {pos: std[raw] for pos, raw in inference.flat_names.items()}


def ingest_messy_frame(
    spark: SparkSession,
    pdf: pd.DataFrame,
    canonicalizer: HeaderCanonicalizer | None = None,
    row_id_col: str = "_row_id",
) -> DataFrame:
    """Full ingestion: infer structure, canonicalize, slice off the header
    block, dedupe the projection (P3), and hand the all-string body to
    Spark with a load-order row id (required by order-sensitive operators
    like ffill).

    The reference slices ``maxrow + 2:`` — first data row is separated from
    the header block by one blank spacer row.
    """
    canonicalizer = canonicalizer or HeaderCanonicalizer()
    inference = infer_header_structure(pdf)
    rename = canonical_rename_map(inference, canonicalizer)

    body = pdf.iloc[inference.first_data_row + 2 :]
    keep = [c for c in body.columns if c in rename]
    body = body[keep].rename(columns=rename)
    body = body.loc[:, ~body.columns.duplicated()]  # P3: distinct projection
    body = body.astype("string")
    body.insert(0, row_id_col, range(len(body)))

    # everything arrives as string except the row id. The frame is a local
    # relation, whose projections the optimizer evaluates row by row on the
    # driver for every plan built on it (ConvertToLocalRelation: ~0.6 s
    # per plan at the workbook's 7,569 rows x 100 columns). A lazy local
    # checkpoint turns it into an RDD scan, stored by the first job that
    # reads it and freed by the ContextCleaner with the frame (except in a
    # process's first refresh, whose checkpoints stay reachable: ROADMAP
    # 4(e)).
    sdf = spark.createDataFrame(body).localCheckpoint(eager=False)
    return sdf.withColumn(row_id_col, F.col(row_id_col).cast("long"))


def read_excel_sheets(path: str, num_sheets: int = 2) -> list[pd.DataFrame]:
    """S4: multi-sheet all-string Excel scan (driver-side). Gated: the
    container may lack an Excel engine; callers fall back to parquet/CSV
    fixtures or pass pandas frames directly."""
    try:
        frames = pd.read_excel(path, sheet_name=list(range(num_sheets)), dtype=str)
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "no Excel engine (openpyxl/xlrd) in this environment; pass a "
            "pandas DataFrame to ingest_messy_frame instead"
        ) from exc
    return [frames[i] for i in sorted(frames)]
