"""Sort operators (SURVEY §2.6 W1/W3).

Row-ordered outputs are not Spark sorts. Their post-agg tables are small
by construction, are collected once and are ordered on the driver: the
canonical sheet and the baby-flip table by
``sinks.excel_sink.collect_ordered`` (the baby-flip table by
:func:`lot_last4_key`, computed in its plan), and the DLPM macro with
:func:`numeric_first_order`, the driver-side twin of
:func:`numeric_first_key`. :func:`sort_numeric_first` is W1 as a Spark
sort; no runner calls it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUMERIC_SENTINEL = 10**9  # reference's missing-lot sort sentinel (baby_flip_tool.py:330)


def numeric_first_key(col: str | Column) -> Column:
    """W1: sort key that orders numeric-looking values numerically (NULLs
    last), mirroring the reference's ``to_numeric`` two-level sort."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string").try_cast("double")


def numeric_first_order(key: float | None, text: str | None, item: str | None) -> tuple:
    """W1 on the driver: a Python sort key that orders rows exactly like
    Spark's ``orderBy(numeric_first_key(c).asc_nulls_last(), c, item)``,
    given each row's ``numeric_first_key`` value ``key``. NULL keys sort
    last and NaN above every number; NULL ``c``/``item`` sort first (Spark's
    ascending default)."""
    nan = key is not None and math.isnan(key)
    return (
        key is None, nan, 0.0 if key is None or nan else key,
        text is not None, text or "",
        item is not None, item or "",
    )


def sort_numeric_first(df: DataFrame, col: str, *extra: Column) -> DataFrame:
    """Order by numeric value when parseable, then raw text (W1)."""
    return df.orderBy(
        numeric_first_key(col).asc_nulls_last(), F.col(col).asc(), *extra
    )


def lot_last4_key(lot: str | Column) -> Column:
    """W3: last 4 digits of the LAST numeric chunk of a lot number; missing
    → sentinel 10^9 (sorts last). ``'498-68594 39024'`` → 9024."""
    c = F.col(lot) if isinstance(lot, str) else lot
    # '(\d+)\D*$' = last digit run; equivalent to a negative lookahead but
    # also valid in RE2 engines (DuckDB oracle parity)
    last_chunk = F.regexp_extract(c.cast("string"), r"(\d+)\D*$", 1)
    last4 = F.substring(last_chunk, -4, 4)
    return F.coalesce(
        F.nullif(last4, F.lit("")).try_cast("int"), F.lit(NUMERIC_SENTINEL)
    )

