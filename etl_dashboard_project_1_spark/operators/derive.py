"""Derived-column operators D1-D9 (SURVEY.md §2.5) as pure Column builders.

Reference behaviors re-expressed as single Catalyst expressions (the
reference runs eager masked-assignment loops — e.g. 49 passes for the
7×7 propulsion/fuel factor table at src/transform_pipeline.py:100-130;
here each becomes ONE chained CASE WHEN that whole-stage codegen compiles
into straight-line JVM code):

- D1 datetime parse + year extract  (src/transform_pipeline.py:34-43)
- D2 numeric cast w/ coerce          (src/transform_pipeline.py:46-53)
- D5 CASE categorization             (src/transform_pipeline.py:77-89)
- D6 factor-table arithmetic         (src/transform_pipeline.py:96-130)
- D7 source-column selection by key  (src/transform_pipeline.py:132-151)
- D8 threshold bucketing             (src/transform_pipeline.py:188-193)
- D9 horizontal family mean          (src/transform_pipeline.py:195-214)
- D10 12-hex sha256 id               (src/header_standarizer_ruler.py:173-175)

All builders are ``config -> Column`` pure functions: no data movement, no
UDFs, nothing opaque to the optimizer. The D1-D9 builders render their
expression as SQL text and parse it once (``functions/sqltext``): a CASE
table built call by call costs one Py4J round-trip per node.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.sqltext import column, lit, operand


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_date(col: Column | str, fmt: str | None = None) -> Column:
    """D1: string → date (non-parsable → null, like pandas coerce)."""
    if fmt:
        return column(f"to_date({operand(col)}, {lit(fmt)})")
    return column(f"to_date({operand(col)})")


def extract_year(col: Column | str) -> Column:
    """D1: year component as int."""
    return column(f"year({operand(col)})")


def numeric_cast(col: Column | str) -> Column:
    """D2: string → double; non-numeric → null (≡ pd.to_numeric coerce)."""
    return column(f"CAST({operand(col)} AS DOUBLE)")


def case_map(col: Column | str, mapping: Mapping[str, Sequence[str]], default=None) -> Column:
    """D5: {category: [raw values...]} → chained CASE WHEN ... IN (...).

    One expression regardless of category count — Catalyst folds it into a
    single codegen'd switch; no repeated passes over the data. A category
    with no raw values never matches and renders no branch.
    """
    c = operand(col)
    branches = [
        f"WHEN {c} IN ({', '.join(lit(v) for v in values)}) THEN {lit(category)}"
        for category, values in mapping.items()
        if len(values)
    ]
    if not branches:
        return column(lit(default))
    return column(f"CASE {' '.join(branches)} ELSE {lit(default)} END")


def factor_product(
    key_cols: Sequence[Column | str],
    table: Mapping[tuple, tuple[str, float]],
    decimals: int | None = 2,
) -> Column:
    """D6: per-key (source_column, factor) arithmetic as ONE chained CASE.

    ``table`` maps a tuple of key values (matched against ``key_cols`` in
    order) to ``(source_col_name, factor)``; the result is
    ``round(source * factor, decimals)`` for the first matching key, null
    when no key matches.
    The reference iterates the 7×7 key space with boolean-mask writes; this
    is the same semantics in a single expression.
    """
    keys = [operand(k) for k in key_cols]
    branches = []
    for key_values, (src, factor) in table.items():
        cond = " AND ".join(f"{k} = {lit(v)}" for k, v in zip(keys, key_values))
        val = f"CAST({operand(src)} AS DOUBLE) * {lit(float(factor))}"
        if decimals is not None:
            val = f"round({val}, {decimals})"
        branches.append(f"WHEN {cond} THEN {val}")
    if not branches:
        return column("CAST(NULL AS DOUBLE)")
    return column(f"CASE {' '.join(branches)} END")


def keyed_source_select(
    key_col: Column | str, table: Mapping[str, str], cast: str = "double"
) -> Column:
    """D7: pick the value of a different source column depending on a key
    column's value (e.g. per-fuel CO₂ source columns)."""
    k = operand(key_col)
    branches = [
        f"WHEN {k} = {lit(key_value)} THEN CAST({operand(src)} AS {cast})"
        for key_value, src in table.items()
    ]
    if not branches:
        return column(f"CAST(NULL AS {cast})")
    return column(f"CASE {' '.join(branches)} END")


def bucketize(
    col: Column | str, edges: Sequence[float], labels: Sequence[str]
) -> Column:
    """D8: half-open threshold buckets: ``edges[i] <= x < edges[i+1] → labels[i]``.

    ``len(labels) == len(edges) - 1``; values outside every bucket → null
    (the reference leaves ≥3860 kg unlabelled).
    """
    assert len(labels) == len(edges) - 1, "labels must be one fewer than edges"
    c = f"CAST({operand(col)} AS DOUBLE)"
    branches = [
        f"WHEN {c} >= {lit(float(edges[i]))} AND {c} < {lit(float(edges[i + 1]))} "
        f"THEN {lit(lab)}"
        for i, lab in enumerate(labels)
    ]
    return column(f"CASE {' '.join(branches)} ELSE NULL END")


def horizontal_mean(cols: Sequence[Column | str], decimals: int | None = 2) -> Column:
    """D9: row-wise family mean with the reference's exact divisor semantics:
    nulls count as 0 in the numerator, the divisor is the NUMBER OF COLUMNS
    (not the non-null count) — pandas ``sum(axis=1)/len(cols)``.
    """
    cols = list(cols)
    total = " + ".join(f"coalesce(CAST({operand(c)} AS DOUBLE), 0.0D)" for c in cols)
    mean = f"({total}) / {lit(float(len(cols)))}"
    return column(f"round({mean}, {decimals})" if decimals is not None else mean)


def portable_round(col: Column | str, decimals: int) -> Column:
    """Engine-portable rounding: ``floor(x * 10^n + 0.5) / 10^n``.

    ``round()`` diverges between engines exactly on representable half
    boundaries (Spark rounds the double's shortest decimal representation
    HALF_UP; DuckDB rounds the binary value) — a real failure mode for
    per-row rationals like ``5/32 = 0.15625``. This formulation is plain
    IEEE double arithmetic, so any engine computes the identical result.
    Use for per-row ratio outputs compared against an oracle; plain
    ``F.round`` is fine for end-of-query aggregates.
    """
    c = _c(col)
    scale = float(10**decimals)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def cents(col: Column | str) -> Column:
    """Exact centi-units, ``floor(x*100 + 0.5)`` as BIGINT — the
    portable_round form; F.round would half-round differently from
    DuckDB's round on boundary values."""
    return F.floor(_c(col) * 100 + F.lit(0.5)).cast("long")


#: DuckDB spelling of ``cents`` — keep the two in sync.
CENTS_SQL = "CAST(floor({x} * 100 + 0.5) AS BIGINT)"


def numpy_round(col: Column | str, decimals: int) -> Column:
    """numpy/pandas-faithful rounding: ``rint(x * 10^n) / 10^n`` —
    half-even on the SCALED BINARY value, exactly what
    ``np.round``/``Series.round`` compute.

    Distinct from both of Spark's own modes on the boundary cases the
    vehicle golden replay exposed:
    - ``F.bround`` rounds the shortest-decimal REPR: 11.5*0.87 prints as
      10.005 so bround yields 10.00, but the binary value is
      10.0050000000000004… and numpy correctly rounds UP to 10.01
      (37 golden rows).
    - ``portable_round`` (floor half-up) breaks the other direction on
      binary-EXACT halves: 10.125*100 = 1012.5 exactly, numpy half-evens
      DOWN to 10.12 while floor-form forces 10.13.
    Use when conforming to a pandas/numpy reference output; use
    ``portable_round`` for cross-engine oracle parity.
    """
    scale = lit(float(10**decimals))
    return column(f"rint({operand(col)} * {scale}) / {scale}")


def hash12(col: Column | str) -> Column:
    """D10: stable 12-hex id = first 12 chars of sha256 (lowercase hex)."""
    return F.lower(F.sha2(_c(col).cast("string"), 256)).substr(1, 12)
