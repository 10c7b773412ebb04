"""Sort operators (SURVEY §2.6 W1/W3).

Row-ordered outputs are not Spark sorts. Their post-agg tables are small
by construction, are collected once and are ordered on the driver by
``sinks.excel_sink.collect_ordered``: the canonical sheet by its columns,
the baby-flip table by :func:`lot_last4_key_sql` and the DLPM price rows by
W1's keys, each key computed in the table's plan.
:func:`numeric_first_order` is W1 as a Python sort key, the driver-side
twin of :func:`numeric_first_key_sql` that the ADPO,X renderer orders its
branch groups with. The key helpers are SQL-text renderers, as in
``functions/text.py``.
"""

from __future__ import annotations

import math

from etl_jetro_spark.sqltext import string_lit

NUMERIC_SENTINEL = 10**9  # reference's missing-lot sort sentinel (baby_flip_tool.py:330)
_LAST_DIGIT_RUN = string_lit(r"(\d+)\D*$")


def numeric_first_key_sql(x: str) -> str:
    """W1: sort key that orders numeric-looking values numerically (NULLs
    last), mirroring the reference's ``to_numeric`` two-level sort."""
    return f"try_cast(CAST({x} AS STRING) AS DOUBLE)"


def numeric_first_sort_keys(x: str) -> dict[str, str]:
    """W1's leading sort keys as named SQL texts over ``x``: ascending
    with NULLs first (``collect_ordered``), then ``x`` itself and any
    tie-breakers, they order rows like ``numeric_first_order``."""
    key = numeric_first_key_sql(x)
    return {"key_null": f"{key} IS NULL", "key_nan": f"isnan({key})", "key": key}


def numeric_first_order(key: float | None, text: str | None, item: str | None) -> tuple:
    """W1 on the driver: a Python sort key that orders rows exactly like
    Spark's ``orderBy(numeric_first_key_sql(c) ASC NULLS LAST, c, item)``,
    given each row's ``numeric_first_key_sql`` value ``key``. NULL keys sort
    last and NaN above every number; NULL ``c``/``item`` sort first (Spark's
    ascending default)."""
    nan = key is not None and math.isnan(key)
    return (
        key is None, nan, 0.0 if key is None or nan else key,
        text is not None, text or "",
        item is not None, item or "",
    )


def lot_last4_key_sql(x: str) -> str:
    """W3: last 4 digits of the LAST numeric chunk of a lot number; missing
    → sentinel 10^9 (sorts last). ``'498-68594 39024'`` → 9024."""
    # '(\d+)\D*$' = last digit run; equivalent to a negative lookahead but
    # also valid in RE2 engines (DuckDB oracle parity)
    last4 = f"substring(regexp_extract(CAST({x} AS STRING), {_LAST_DIGIT_RUN}, 1), -4, 4)"
    return f"coalesce(try_cast(nullif({last4}, '') AS INT), {NUMERIC_SENTINEL})"
