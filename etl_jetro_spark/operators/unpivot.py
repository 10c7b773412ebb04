"""Unpivot / melt (SURVEY §2.3 U1–U4) — the reference's signature op.

A melt is one ``stack`` generator (a Generate physical node): it emits
rows partition-locally with **no shuffle**, so melting a 100 TB wide scan
is embarrassingly parallel — the first shuffle happens only at the
downstream aggregation, exactly where it must. :func:`stack_sql` renders
the whole generator as one SQL text, so a plan costs the same few Py4J
round trips for 8 store columns as for 64.

Reference cites (into /root/reference/):
- U1 1-id melt + header normalize: 247/tools/allocation_tool.py:53-91
- U2 price melt + vendor const: 247/tools/pricesheet_tool.py:57-93
- U3 2-id melt with parsed values: Flips/tools/big_flip_tool.py:194-204
- U4 4-id melt, positional store range, numeric-only store labels:
  Flips/tools/baby_flip_tool.py:163-191
"""

from __future__ import annotations

from etl_jetro_spark.functions.text import strip_dot_zero_text
from etl_jetro_spark.sqltext import ident, string_lit


def _is_numeric_name(name: str) -> bool:
    try:
        float(str(name).strip())
        return True
    except ValueError:
        return False


def numeric_columns(cols: list[str]) -> list[str]:
    """The columns whose *name* is numeric-ish — store/branch headers like
    ``114`` / ``449.0``, the only ones a supplier sheet melts (U4)."""
    return [c for c in cols if _is_numeric_name(c)]


def stack_sql(cols: list[str], var: str, value: str) -> str:
    """The select-list item that unpivots ``cols`` into rows of ``var``
    (the header label) and ``value`` (the cell cast to string; the
    reference's cells are arbitrarily messy, so the caller parses):
    ``stack(n, '<label>', CAST(<col> AS STRING), …) AS (var, value)``.
    The label drops a trailing ``.0``/``.00`` (``'449.0'`` → ``'449'``)
    — U1 header normalization.
    """
    if not cols:
        raise ValueError("stack_sql: no value columns to unpivot")

    terms = ", ".join(f"{string_lit(strip_dot_zero_text(c))}, CAST({ident(c)} AS STRING)" for c in cols)
    return f"stack({len(cols)}, {terms}) AS ({ident(var)}, {ident(value)})"
