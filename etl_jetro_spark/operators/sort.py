"""Sort operators (SURVEY §2.6 W1/W3).

Row-ordered outputs are not Spark sorts. Their post-agg tables are small
by construction, are collected once and are ordered on the driver by
``sinks.excel_sink.collect_ordered``: the canonical sheet by its columns,
the baby-flip table by :func:`lot_last4_key_sql` and the DLPM price rows by
W1's keys, each key computed in the table's plan. The ADPO,X renderer
orders its integer Branch groups in the same W1 order with an Arrow sort
(``sinks.macro.render_adpo_x``). The key helpers are SQL-text renderers,
as in ``functions/text.py``.
"""

from __future__ import annotations

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
    tie-breakers, they order rows like Spark's
    ``orderBy(numeric_first_key_sql(x) ASC NULLS LAST, x, …)``."""
    key = numeric_first_key_sql(x)
    return {"key_null": f"{key} IS NULL", "key_nan": f"isnan({key})", "key": key}


def lot_last4_key_sql(x: str) -> str:
    """W3: last 4 digits of the LAST numeric chunk of a lot number; missing
    → sentinel 10^9 (sorts last). ``'498-68594 39024'`` → 9024."""
    # '(\d+)\D*$' = last digit run; equivalent to a negative lookahead but
    # also valid in RE2 engines (DuckDB oracle parity)
    last4 = f"substring(regexp_extract(CAST({x} AS STRING), {_LAST_DIGIT_RUN}, 1), -4, 4)"
    return f"coalesce(try_cast(nullif({last4}, '') AS INT), {NUMERIC_SENTINEL})"
