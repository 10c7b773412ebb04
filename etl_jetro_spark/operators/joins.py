"""Join operators (SURVEY §2.5 J1–J5, §2.7 D3).

Every dimension in the reference is KB-sized (carrier maps ≤33 rows, PO
lists, recipient books), so the engine broadcast-joins them explicitly —
at 100 TB the fact side never shuffles for these lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from etl_jetro_spark.plans.hints import bcast_sized

from etl_jetro_spark.functions.text import norm_key, norm_key_sql
from etl_jetro_spark.sqltext import ident, string_lit


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str | None = None,
    normalize: bool = False,
    how: str = "left",
) -> DataFrame:
    """Left-join a small dimension onto the fact table, broadcast-hinted.

    ``normalize=True`` joins on the reference's normalized key (lowercased,
    space/# stripped — J3's dict-lookup fallback, big_flip_tool.py:238-245)
    without altering either side's visible columns.
    """
    dim_key = dim_key or key
    if normalize:
        fk, dk = "_nk_fact", "_nk_dim"
        f2 = fact.withColumn(fk, norm_key(key))
        d2 = dim.withColumn(dk, norm_key(dim_key)).drop(dim_key)
        out = f2.join(bcast_sized(d2), f2[fk] == d2[dk], how).drop(fk, dk)  # bound: operator contract: caller passes a small dim
        return out
    d2 = dim.withColumnRenamed(dim_key, key) if dim_key != key else dim
    return fact.join(bcast_sized(d2), key, how)  # bound: operator contract: caller passes a small dim


def map_join(
    fact: DataFrame,
    mapping: dict[str, object],
    key: str,
    out: str,
    default: object = None,
    normalize_keys: bool = True,
    zero_to_null: bool = True,
) -> DataFrame:
    """J3: apply a small dict as a lookup column via a MapType literal —
    zero shuffle, zero broadcast exchange; the map rides in the task binary.

    ``zero_to_null`` reproduces the reference's zero→blank rule
    (big_flip_tool.py:238-245).
    """
    norm = (lambda s: "".join(str(s).strip().lower().split()).replace("#", "")) if normalize_keys else str
    # stringify values: a map literal unifies value types, which would
    # silently coerce mixed dicts (e.g. {"114": "8", "999": 0}) to a numeric
    # map. The whole lookup is one SQL text, however many keys the dict has.
    entries = ", ".join(
        f"{string_lit(norm(k))}, {'CAST(NULL AS STRING)' if v is None else string_lit(str(v))}"
        for k, v in mapping.items()
    )
    k = norm_key_sql(ident(key)) if normalize_keys else f"CAST({ident(key)} AS STRING)"
    val = f"map({entries})[{k}]"
    if zero_to_null:
        val = f"CASE WHEN try_cast({val} AS DOUBLE) = 0 THEN NULL ELSE {val} END"
    if default is not None:
        val = f"coalesce({val}, {string_lit(str(default))})"
    return fact.withColumn(out, F.expr(val))


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """D3/J5: rows of ``left`` with no match in ``right`` (missing POs)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """J5: rows of ``left`` with ≥1 match in ``right`` (matched POs)."""
    return left.join(right, on, "left_semi")
