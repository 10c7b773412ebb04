"""NA-string normalization (SURVEY §2.2 P6).

The reference treats the string set {"", "na", "n/a", "nan", "none", "null",
"nah"} as missing, case-insensitively after trim
(/root/reference/Flips/tools/baby_flip_tool.py:37-41,
 /root/reference/247/tools/read_file_tool.py:175).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_jetro_spark.sqltext import ident, string_lit

NA_STRINGS = ("", "na", "n/a", "nan", "none", "null", "nah")
_NA_IN = ", ".join(string_lit(s) for s in NA_STRINGS)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_na(col: str | Column) -> Column:
    """NULL out NA-like strings; other values pass through untouched."""
    c = _c(col)
    return F.when(F.lower(F.trim(c.cast("string"))).isin(*NA_STRINGS), None).otherwise(c)


def is_na_like(col: str | Column) -> Column:
    c = _c(col)
    return c.isNull() | F.lower(F.trim(c.cast("string"))).isin(*NA_STRINGS)


def _normalize_na_sql(name: str) -> str:
    """:func:`normalize_na` of column ``name`` as SQL text."""
    c = ident(name)
    return f"CASE WHEN lower(trim(CAST({c} AS STRING))) IN ({_NA_IN}) THEN NULL ELSE {c} END"


def normalize_na_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Apply :func:`normalize_na` to every (or the given) string column.

    Every column, normalized or passed through, is a field of one
    ``struct(…)`` SQL text that ``.*`` expands back in place, so a sheet
    of any width costs the same few Py4J round trips. (A ``selectExpr``
    of one text per column would not: Py4J sends each list element to
    the JVM separately.) Column names, order and types are unchanged."""
    fields = df.schema.fields
    targets = set(columns or [f.name for f in fields if f.dataType.simpleString() == "string"])
    missing = targets - {f.name for f in fields}
    if missing:
        raise ValueError(f"normalize_na_strings: no such columns {sorted(missing)}")
    body = ", ".join(
        f"{_normalize_na_sql(f.name) if f.name in targets else ident(f.name)} AS {ident(f.name)}"
        for f in fields
    )
    return df.selectExpr(f"struct({body}) AS _na").select("_na.*")
