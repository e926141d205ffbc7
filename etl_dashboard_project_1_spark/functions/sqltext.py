"""SQL text for config-driven column builders.

Every PySpark Column call is a Py4J round-trip: ``F.col`` costs about 13,
``col == lit`` 11-14, and the 49-branch D6 factor CASE built call by call
costs ~5,300 (0.7 s). The same CASE rendered as text and parsed once with
``F.expr`` costs 3. So the builders whose expression size grows with their
config (CASE tables, IN lists, column families) render SQL text here and
parse it once; the analyzed expression is the same.

Rendering rules, in one place:
- identifiers are backtick-quoted, any backtick doubled (``AÑO``, ``a`b``);
- string literals escape ``\\`` and ``'`` with a backslash;
- float literals carry the ``D`` suffix (``0.87`` alone parses as DECIMAL)
  and use Python's shortest round-trip repr; ±inf and NaN are explicit
  casts from their string names;
- ints render as digits (Spark types them INT or BIGINT, as ``F.lit`` does).

Builders take a column as a name (``str``), as SQL text (:class:`Sql`), or
as a Column another builder returned: :func:`column` remembers the text it
parsed so builders nest as text. Any other Column has no text; bind it to
a column first (``df.withColumn(name, col)``) or pass :class:`Sql`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_TEXT_ATTR = "_sql_text"


class Sql(str):
    """SQL expression text, as opposed to a column name."""


def ident(name: str) -> str:
    """A backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(value) -> str:
    """A SQL literal of the same type and value as ``F.lit(value)``."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return "CAST('Infinity' AS DOUBLE)" if value > 0 else "CAST('-Infinity' AS DOUBLE)"
        return repr(value) + "D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def operand(col: Column | str) -> str:
    """SQL text for a builder's column argument, parenthesized if it is an
    expression."""
    if isinstance(col, Sql):
        return f"({col})"
    if isinstance(col, str):
        return ident(col)
    # the instance dict, not getattr: Column.__getattr__ turns any unknown
    # attribute into a struct-field Column
    text = vars(col).get(_TEXT_ATTR) if isinstance(col, Column) else None
    if text is None:
        raise TypeError(
            "expected a column name, sqltext.Sql text or a Column returned by a "
            "SQL-text builder; bind other Columns with withColumn first"
        )
    return f"({text})"


def column(text: str) -> Column:
    """Parse ``text`` once; the Column keeps its text for nesting."""
    col = F.expr(text)
    setattr(col, _TEXT_ATTR, text)
    return col
