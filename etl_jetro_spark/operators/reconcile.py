"""Snapshot reconciliation: row-level table diff and schema drift.

The anti-entropy tools of a 100 TB lakehouse: given two snapshots of the
same logical table (yesterday's and today's, source and replica, pre- and
post-migration), classify every key as added / removed / changed /
unchanged, and report column-level schema drift.

Scale shape: ONE full-outer join on the business key. With
``hash_compare=True`` each side is first projected to
(key, xxhash64(compared columns)) so the join carries an 8-byte digest
instead of full rows — the shuffle width is independent of row width.
The summary is a partial-agg count over the join output. Null-safe
comparison (``<=>``) keeps null transitions (null→value, value→null)
classified as changes, not matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    hash_compare: bool = False,
) -> DataFrame:
    """Row-level diff of snapshot ``b`` against base ``a`` → one row per
    key with ``diff_status`` ∈ {added, removed, changed, unchanged}.

    ``compare_cols`` defaults to all shared non-key columns. With
    ``hash_compare`` the comparison uses a 64-bit digest per side
    (narrow shuffle; a hash collision would mask a change — use for
    monitoring, not for settlement).
    """
    if compare_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    if hash_compare:
        proj_a = a.select(*key_cols, F.xxhash64(*compare_cols).alias("_cmp_a"))
        proj_b = b.select(*key_cols, F.xxhash64(*compare_cols).alias("_cmp_b"))
        same = F.col("_cmp_a") == F.col("_cmp_b")
    else:
        proj_a = a.select(
            *key_cols, *[F.col(c).alias(f"_a_{c}") for c in compare_cols]
        )
        proj_b = b.select(
            *key_cols, *[F.col(c).alias(f"_b_{c}") for c in compare_cols]
        )
        same = F.lit(True)
        for c in compare_cols:
            same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    # presence flags survive the outer join even when every payload
    # column is null on one side
    proj_a = proj_a.withColumn("_in_a", F.lit(True))
    proj_b = proj_b.withColumn("_in_b", F.lit(True))
    j = proj_a.join(proj_b, key_cols, "full_outer")
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, status.alias("diff_status"))


def diff_summary(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    hash_compare: bool = False,
) -> DataFrame:
    """Count of keys per diff status — the monitoring-dashboard shape."""
    d = table_diff(a, b, key_cols, compare_cols, hash_compare)
    return d.groupBy("diff_status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
