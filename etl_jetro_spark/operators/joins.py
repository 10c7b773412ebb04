"""Join operators (SURVEY §2.5 J1–J5, §2.7 D3).

Every dimension in the reference is KB-sized (carrier maps ≤33 rows, PO
lists), so a lookup travels inside the plan as a map literal
(:func:`map_lookup_sql`) rather than as a relation of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_jetro_spark.functions.text import norm_key_sql, norm_key_text
from etl_jetro_spark.sqltext import string_lit


def map_lookup_sql(
    mapping: dict[str, object],
    key: str,
    normalize_keys: bool = True,
    zero_to_null: bool = True,
) -> str:
    """J3: a small dict applied to the SQL text ``key`` as a MapType
    literal lookup — zero shuffle, zero broadcast exchange; the map rides
    in the task binary. The result is a string, NULL for a missing key.

    ``zero_to_null`` reproduces the reference's zero→blank rule
    (big_flip_tool.py:238-245).
    """
    norm = norm_key_text if normalize_keys else str
    # stringify values: a map literal unifies value types, which would
    # silently coerce mixed dicts (e.g. {"114": "8", "999": 0}) to a numeric
    # map. The whole lookup is one SQL text, however many keys the dict has.
    entries = ", ".join(
        f"{string_lit(norm(k))}, {'CAST(NULL AS STRING)' if v is None else string_lit(str(v))}"
        for k, v in mapping.items()
    )
    k = norm_key_sql(key) if normalize_keys else f"CAST({key} AS STRING)"
    # an empty map() literal is map<void,void>, which no key can index
    lookup = f"map({entries})" if entries else "CAST(map() AS MAP<STRING, STRING>)"
    val = f"{lookup}[{k}]"
    if zero_to_null:
        val = f"CASE WHEN try_cast({val} AS DOUBLE) = 0 THEN NULL ELSE {val} END"
    return val


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """D3/J5: rows of ``left`` with no match in ``right`` (missing POs)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """J5: rows of ``left`` with ≥1 match in ``right`` (matched POs)."""
    return left.join(right, on, "left_semi")
