"""Positional grid normalization (SURVEY §2.2 P1–P5, P11–P12, §1.3).

The reference's inputs are messy wide sheets where *headers are data*: junk
rows precede the header row, marker columns bound the payload, and one
physical sheet can hold several logical tables. These are inherently
row-POSITIONAL semantics, which Spark DataFrames don't have — so the engine
normalizes each raw sheet **per file** in pandas on the driver (sheets are
KB–MB; the unit of scale is *many files*, not one huge sheet), then hands
clean, order-free relational tables to Spark.

Reference cites (into /root/reference/):
- P1 header promotion: ACME/tools/acme_tool.py:20-23,
  247/tools/allocation_tool.py:20-26 (drop row0 then promote row1)
- header cleaning/dedup: 247/tools/pricesheet_tool.py:28-37, :244-255
- P3 marker-column slicing: 247/tools/allocation_tool.py:28-34,
  Flips/tools/big_flip_tool.py:160-176 (3-way)
- P5 bad-header drop: Flips/tools/baby_flip_tool.py:30-34
- P11 vertical split at sentinels: Flips/tools/big_flip_tool.py:55-81
- P12 store-block extraction: Flips/tools/big_flip_tool.py:84-129
"""

from __future__ import annotations

import pandas as pd

from etl_jetro_spark.functions.text import norm_key_text, strip_dot_zero_text, strip_hidden_text


def clean_header(v: object) -> str:
    """A header cell as text: NULL/NaN → ``''``, hidden characters removed,
    trimmed, trailing ``.0``/``.00`` dropped."""
    s = "" if v is None or (isinstance(v, float) and v != v) else str(v)
    return strip_dot_zero_text(strip_hidden_text(s))


def clean_headers(cols: list[object]) -> list[str]:
    """Strip/normalize header names; dedupe duplicates with ``.1`` suffixes
    (reference pricesheet_tool.py:244-255)."""
    seen: dict[str, int] = {}
    out = []
    for c in cols:
        name = clean_header(c)
        if name in seen:
            seen[name] += 1
            out.append(f"{name}.{seen[name]}")
        else:
            seen[name] = 0
            out.append(name)
    return out


def promote_header(raw: pd.DataFrame, header_row: int = 0) -> pd.DataFrame:
    """Row ``header_row`` becomes the schema; rows above and including it are
    dropped (P1/P2). ``raw`` is a headerless positional grid."""
    header = clean_headers(list(raw.iloc[header_row]))
    body = raw.iloc[header_row + 1 :].reset_index(drop=True)
    body.columns = header
    return body


def drop_last_row(df: pd.DataFrame) -> pd.DataFrame:
    """Drop the trailing footer/grand-total row (P2)."""
    return df.iloc[:-1].reset_index(drop=True)


def find_column(df: pd.DataFrame, marker: str) -> int | None:
    """Index of the first column whose cleaned name matches ``marker``
    (case/space/# insensitive)."""
    target = norm_key_text(marker)
    for i, c in enumerate(df.columns):
        if norm_key_text(c) == target:
            return i
    return None


def slice_at_marker(
    df: pd.DataFrame, marker: str, keep: str = "left"
) -> pd.DataFrame:
    """Column-range slice at a marker column (P3).

    keep='left'      → columns strictly left of the marker
    keep='through'   → columns up to AND including the marker
    Missing marker → unchanged (reference tolerates absent markers).
    """
    idx = find_column(df, marker)
    if idx is None:
        return df
    stop = idx if keep == "left" else idx + 1
    return df.iloc[:, :stop]


def drop_columns_ci(df: pd.DataFrame, names: list[str]) -> pd.DataFrame:
    """Drop named columns, case/space/#-insensitively (P4)."""
    targets = {norm_key_text(n) for n in names}
    keep = [c for c in df.columns if norm_key_text(c) not in targets]
    return df[keep]


def drop_bad_header_columns(df: pd.DataFrame) -> pd.DataFrame:
    """Drop columns whose header is empty/NaN-ish (P5)."""
    keep = [c for c in df.columns if clean_header(c) not in ("", "nan", "none")]
    return df[keep]


def split_at_sentinel(
    raw: pd.DataFrame, col: int, sentinel: str, occurrence: int = 1
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Vertical split (P11): rows before the Nth occurrence of ``sentinel``
    in positional column ``col`` vs rows from that occurrence on.

    The reference splits the Flips sheet at the first 'Total Weight' (big
    region, exclusive) and the SECOND 'Item' (baby region, inclusive).
    """
    matches = [
        i
        for i, v in enumerate(raw.iloc[:, col])
        if norm_key_text(v) == norm_key_text(sentinel)
    ]
    if len(matches) < occurrence:
        return raw, raw.iloc[0:0]
    cut = matches[occurrence - 1]
    top = raw.iloc[:cut].reset_index(drop=True)
    bottom = raw.iloc[cut:].reset_index(drop=True)
    return top, bottom


def extract_block(
    raw: pd.DataFrame,
    row_range: tuple[int, int],
    col_start: int,
    stop_markers: list[str],
    marker_row: int,
) -> pd.DataFrame:
    """Horizontal block extraction (P12): columns ``col_start``..the first
    stop-marker found in ``marker_row``, rows ``row_range`` (inclusive
    start, exclusive end)."""
    stop = raw.shape[1]
    targets = {norm_key_text(m) for m in stop_markers}
    for j in range(col_start, raw.shape[1]):
        if norm_key_text(raw.iat[marker_row, j]) in targets:
            stop = j
            break
    return raw.iloc[row_range[0] : row_range[1], col_start:stop].reset_index(drop=True)
