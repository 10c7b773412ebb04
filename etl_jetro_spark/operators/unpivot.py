"""Unpivot / melt operators (SURVEY §2.3 U1–U4) — the reference's signature op.

``melt`` is one ``stack`` generator (a Generate physical node): it emits
rows partition-locally with **no shuffle**, so melting a 100 TB wide scan
is embarrassingly parallel — the first shuffle happens only at the
downstream aggregation, exactly where it must. The whole generator goes to
the JVM as one SQL text, so building the plan costs the same few Py4J
round trips for 8 store columns as for 64.

Reference cites (into /root/reference/):
- U1 1-id melt + header normalize: 247/tools/allocation_tool.py:53-91
- U2 price melt + vendor const: 247/tools/pricesheet_tool.py:57-93
- U3 2-id melt with parsed values: Flips/tools/big_flip_tool.py:194-204
- U4 4-id melt, positional store range, numeric-only store labels:
  Flips/tools/baby_flip_tool.py:163-191
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from etl_jetro_spark.sqltext import ident, string_lit


def _is_numeric_name(name: str) -> bool:
    try:
        float(str(name).strip())
        return True
    except ValueError:
        return False


def melt(
    df: DataFrame,
    ids: list[str],
    value_cols: list[str] | None = None,
    var_name: str = "variable",
    value_name: str = "value",
    numeric_vars_only: bool = False,
) -> DataFrame:
    """Wide→long unpivot: the ``ids`` columns, then ``var_name`` (the
    header label) and ``value_name`` (the cell cast to string; the
    reference's cells are arbitrarily messy, so the caller parses).

    - ``value_cols`` defaults to every non-id column.
    - ``numeric_vars_only``: keep only columns whose *name* is numeric-ish
      (store/branch headers like ``114`` / ``449.0``) — U4 semantics.
    - The label drops a trailing ``.0``/``.00`` (``'449.0'`` → ``'449'``)
      — U1 header normalization.

    The plan node is a Generate, ``stack(n, '<label>', CAST(<col> AS
    STRING), …)``, still partition-local with no shuffle; the cleaned
    labels are string literals in it.
    """
    vals = value_cols if value_cols is not None else [c for c in df.columns if c not in ids]
    if numeric_vars_only:
        vals = [c for c in vals if _is_numeric_name(c)]
    if not vals:
        raise ValueError("melt: no value columns to unpivot")

    def label(c: str) -> str:
        return re.sub(r"\.0{1,2}$", "", c.strip())

    terms = ", ".join(f"{string_lit(label(c))}, CAST({ident(c)} AS STRING)" for c in vals)
    return df.selectExpr(
        *[ident(c) for c in ids],
        f"stack({len(vals)}, {terms}) AS ({ident(var_name)}, {ident(value_name)})",
    )


def melt_between(
    df: DataFrame,
    ids: list[str],
    after: str,
    before: str,
    var_name: str = "variable",
    value_name: str = "value",
    numeric_vars_only: bool = True,
) -> DataFrame:
    """U4: unpivot only the columns strictly BETWEEN two named columns
    (positional semantics on the schema, e.g. stores between DESC and Lot #)."""
    cols = list(df.columns)
    try:
        lo, hi = cols.index(after), cols.index(before)
    except ValueError as e:
        raise ValueError(f"melt_between: boundary column missing: {e}") from e
    vals = cols[lo + 1 : hi]
    return melt(
        df, ids, vals, var_name, value_name, numeric_vars_only=numeric_vars_only
    )
