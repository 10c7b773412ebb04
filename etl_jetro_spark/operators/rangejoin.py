"""Bucketed range join: pairs within a numeric/temporal distance.

Spark has no native range join; the naive theta-join (``|a.ts - b.ts| <=
d``) degenerates to a per-key cartesian product. The scalable formulation
bins the range key into buckets of width ``d`` and equi-joins each left row
to its own and neighboring buckets (every qualifying pair shares or abuts a
bucket), then applies the exact predicate — turning an O(n²) theta join
into a hash join with 3× row amplification on one side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_jetro_spark.sqltext import ident

# internal working columns; inputs carrying these (or range keys listed as
# join keys) would silently produce wrong joins, so both entry points verify
_RESERVED = ("_bucket", "_canon")


def _check_inputs(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    range_cols: tuple[str, ...],
) -> None:
    for df, side in ((left, "left"), (right, "right")):
        clash = [c for c in df.columns if c in _RESERVED]
        if clash:
            raise ValueError(
                f"range join: {side} input carries reserved column(s) {clash};"
                " rename them before joining"
            )
    bad = [c for c in range_cols if c in keys]
    if bad:
        raise ValueError(
            f"range join: range column(s) {bad} cannot also be join keys"
        )


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    range_col: str,
    max_distance: int,
    left_suffix: str = "_a",
    right_suffix: str = "_b",
) -> DataFrame:
    """All (left, right) pairs sharing ``keys`` with
    ``|left.range_col - right.range_col| <= max_distance``.

    ``range_col`` must be integral (e.g. epoch ns). Output columns carry
    the suffixes except the join keys.
    """
    _check_inputs(left, right, keys, (range_col,))
    # Bucket index via exact integer floor division. Double division +
    # cast loses precision above 2^53 (epoch-ns keys) and truncates toward
    # zero for negatives (double-width bucket 0); subtracting pmod keeps
    # everything in long arithmetic with true floor semantics.
    rc = ident(range_col)
    bucket = F.expr(f"({rc} - pmod({rc}, {max_distance})) div {max_distance}")
    lb = left.withColumn(
        "_bucket", F.explode(F.array(*[bucket + k for k in (-1, 0, 1)]))
    )
    rb = right.withColumn("_bucket", bucket)
    lren = lb.select(
        *[F.col(k) for k in keys],
        "_bucket",
        *[
            F.col(c).alias(c + left_suffix)
            for c in left.columns
            if c not in keys
        ],
    )
    rren = rb.select(
        *[F.col(k) for k in keys],
        "_bucket",
        *[
            F.col(c).alias(c + right_suffix)
            for c in right.columns
            if c not in keys
        ],
    )
    joined = lren.join(rren, keys + ["_bucket"])
    dist = F.abs(
        F.col(range_col + left_suffix) - F.col(range_col + right_suffix)
    )
    return joined.filter(dist <= max_distance).drop("_bucket")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int,
    left_suffix: str = "_a",
    right_suffix: str = "_b",
) -> DataFrame:
    """All (left, right) pairs sharing ``keys`` whose closed intervals
    ``[start_col, end_col]`` overlap — the temporal-overlap flavor of the
    range join (e.g. concurrent sessions, overlapping order activity).

    Each interval explodes to every ``bucket_width``-wide bucket it spans,
    pairs equi-join on (keys, bucket), and a pair is KEPT ONLY in the
    canonical bucket containing ``greatest(start_a, start_b)`` — exact
    dedup without a ``distinct`` shuffle. Row amplification is
    ``len/width + 1`` per side, so pick ``bucket_width`` near the typical
    interval length; a theta-join formulation would be per-key cartesian.
    ``start/end`` must be integral (epoch seconds/ns).
    """
    _check_inputs(left, right, keys, (start_col, end_col))

    def bucketed(df: DataFrame, suffix: str) -> DataFrame:
        sc, ec = ident(start_col), ident(end_col)
        lo = F.expr(f"({sc} - pmod({sc}, {bucket_width})) div {bucket_width}")
        hi = F.expr(f"({ec} - pmod({ec}, {bucket_width})) div {bucket_width}")
        # inverted intervals (end < start) must vanish, but
        # sequence(lo, hi) with hi < lo yields a DESCENDING sequence,
        # not an empty one — drop them before the explode
        b = df.filter(F.col(end_col) >= F.col(start_col)).withColumn(
            "_bucket", F.explode(F.sequence(lo, hi))
        )
        return b.select(
            *[F.col(k) for k in keys],
            "_bucket",
            *[
                F.col(c).alias(c + suffix)
                for c in df.columns
                if c not in keys
            ],
        )

    joined = bucketed(left, left_suffix).join(
        bucketed(right, right_suffix), keys + ["_bucket"]
    )
    sa, sb = F.col(start_col + left_suffix), F.col(start_col + right_suffix)
    ea, eb = F.col(end_col + left_suffix), F.col(end_col + right_suffix)
    canon = F.greatest(sa, sb)
    canon_bucket = F.expr(
        f"(_canon - pmod(_canon, {bucket_width})) div {bucket_width}"
    )
    return (
        joined.withColumn("_canon", canon)
        .filter(
            (sa <= eb) & (sb <= ea) & (F.col("_bucket") == canon_bucket)
        )
        .drop("_bucket", "_canon")
    )
