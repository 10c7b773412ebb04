"""Data-layout management: the Z-order (Morton) key and small-file
compaction plans.

A table filtered on TWO dimensions (e.g. customer AND date) cannot be
sorted to serve both: a single-column sort gives perfect min/max pruning
on that column and none on the other. The Morton code of both keys
(:func:`morton_sql`, their interleaved bits) is the sort key under which
range-partitioned files each cover a tight bounding box in BOTH
dimensions, so parquet footer min/max statistics skip most files for any
2-D range predicate — what lakehouse formats call ``OPTIMIZE ZORDER BY``.
The key is one SQL text that Spark and DuckDB evaluate identically (q96).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def morton_sql(x: str, y: str, bits: int = 10) -> str:
    """ANSI-ish SQL expression interleaving the low ``bits`` bits of two
    BIGINT expressions (x bit i -> code bit 2i, y bit i -> 2i+1). The same
    string evaluates identically on Spark and DuckDB — which is how the
    q96 oracle verifies the key bit-for-bit."""
    # every term fully parenthesized: DuckDB gives all bitwise operators
    # ONE precedence level (left-assoc, PostgreSQL rule), so a bare
    # `a << 0 | b << 1` chain would parse as `((a << 0) | b) << 1`
    terms = []
    for i in range(bits):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def compaction_plan(
    df: DataFrame,
    group_cols: list[str],
    file_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction assignment: within each group (a hive
    partition directory), order files deterministically and fill bins by
    running cumulative size — ``bin = (cumsum - size) div target`` — so
    every bin lands within one file of ``target_bytes``. The per-group
    window cumsum is the whole cost: one shuffle over the FILE LISTING
    (metadata, millions of rows at 100 TB — not data); the actual
    rewrite job then reads each bin's files and writes one output file
    per bin. Deterministic: same listing -> same plan on any cluster.
    Returns (group..., file, size, bin)."""
    from pyspark.sql import Window

    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    w = (
        Window.partitionBy(*group_cols).orderBy(file_col)
        if group_cols
        else Window.partitionBy().orderBy(file_col)
    )
    cum = F.sum(size_col).over(w)
    # integer `div`, not double division: a cumulative byte count can
    # exceed 2^53 on a real listing and double arithmetic would mis-bin
    return (
        df.select(*group_cols, F.col(file_col), F.col(size_col))
        .withColumn("_fill", (cum - F.col(size_col)).cast("long"))
        .withColumn("bin", F.expr(f"_fill div {int(target_bytes)}"))
        .drop("_fill")
    )
