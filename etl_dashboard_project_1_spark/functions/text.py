"""Scalar text functions (SURVEY.md §2.12): normalization used by the
category-column cleaner (D3), the header canonicalizer (H1) and the fuzzy
join normalizer (J1).

Two tiers:
- ``strip_accents_col``: SQL ``translate`` over the Latin accent
  repertoire — JVM-side, codegen'd, zero Python. This is the hot-path
  version (covers every accented char the Chilean dataset and common Latin
  text produce).
- ``strip_accents_udf``: Arrow-batched pandas UDF using full Unicode NFD
  decomposition — the completeness fallback for arbitrary text, still
  vectorized (no per-row Python).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sqltext import column, lit, operand

# Latin diacritics → ASCII, one char to one char (translate semantics).
_ACCENTED = "áàâäãåéèêëíìîïóòôöõúùûüýÿñçÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝŸÑÇºª°"
_PLAIN = "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYYNC   "


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _translate_accents(text: str) -> str:
    return f"translate({text}, {lit(_ACCENTED)}, {lit(_PLAIN)})"


def strip_accents_col(col: Column | str) -> Column:
    """Accent-strip via char translation — JVM-side, no UDF."""
    return column(_translate_accents(operand(col)))


@F.pandas_udf(T.StringType())
def strip_accents_udf(s: pd.Series) -> pd.Series:
    """Full-Unicode accent strip (NFD + drop combining marks)."""

    def strip(x):
        if x is None:
            return None
        return "".join(
            ch for ch in unicodedata.normalize("NFD", x) if not unicodedata.combining(ch)
        )

    return s.map(strip)


def normalize_category_col(col: Column | str) -> Column:
    """D3 (reference: src/transform_pipeline.py:55-66): null→'', lowercase,
    accent-strip, trim edge whitespace. One codegen'd expression, rendered
    as SQL text (``sqltext``) and parsed once."""
    c = f"coalesce(CAST({operand(col)} AS STRING), '')"
    return column(f"trim({_translate_accents(f'lower({c})')})")


def collapse_whitespace(col: Column | str) -> Column:
    """Runs of whitespace → single space."""
    return F.regexp_replace(_c(col), r"\s+", " ")


def normalize_join_key(col: Column | str) -> Column:
    """J1 name normalization (reference: src/importer_standarizer.py:37-43):
    uppercase, strip tabs/dots/hyphens/whitespace."""
    return F.upper(F.regexp_replace(_c(col).cast("string"), r"[\t\.\-\s]", ""))
