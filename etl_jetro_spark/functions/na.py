"""NA-string normalization (SURVEY §2.2 P6).

The reference treats the string set {"", "na", "n/a", "nan", "none", "null",
"nah"} as missing, case-insensitively after trim
(/root/reference/Flips/tools/baby_flip_tool.py:37-41,
 /root/reference/247/tools/read_file_tool.py:175).

The rule is one SQL-text renderer, as in ``functions/text.py``.
"""

from __future__ import annotations

from etl_jetro_spark.sqltext import string_lit

NA_STRINGS = ("", "na", "n/a", "nan", "none", "null", "nah")
_NA_IN = ", ".join(string_lit(s) for s in NA_STRINGS)


def _na_word_sql(x: str) -> str:
    return f"lower(trim(CAST({x} AS STRING))) IN ({_NA_IN})"


def normalize_na_sql(x: str) -> str:
    """NULL out NA-like strings; other values pass through untouched."""
    return f"CASE WHEN {_na_word_sql(x)} THEN NULL ELSE {x} END"
