"""Aggregation operators (SURVEY §2.4 A1–A6).

All shapes are plain hash aggregations — Catalyst gives partial (map-side)
+ final aggregation automatically, so at 100 TB the shuffle carries only
per-partition partial sums, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_jetro_spark.sqltext import ident


def sum_by(df: DataFrame, keys: list[str], value: str, out: str = "sum_value") -> DataFrame:
    """(keys) → sum(value column), NULL and junk cells counted as 0 (A1's
    ``fillna(0)``, allocation_tool.py:87-91), groups summing to 0 dropped
    (P8). The aggregate and the filter are SQL text."""
    # try_cast: ANSI mode (Spark 4 default) would throw on messy cells;
    # the reference's fillna(0) semantics want junk -> 0 instead.
    total = f"sum(coalesce(try_cast({ident(value)} AS DOUBLE), 0.0D))"
    return df.groupBy(*keys).agg(F.expr(f"{total} AS {ident(out)}")).filter(f"{ident(out)} != 0")


def first_per_group(
    df: DataFrame, keys: list[str], order_by: list[Column], cols: list[str]
) -> DataFrame:
    """A6: deterministic first row per group (min_by semantics), as q8's
    first order per customer. Single shuffle, no window."""
    # order fields get positional aliases so an output col may also be a key
    # of the ordering without creating duplicate struct fields
    strct = F.struct(
        *[o.alias(f"_o{i}") for i, o in enumerate(order_by)],
        *[F.col(c).alias(c) for c in cols],
    )
    agg = df.groupBy(*keys).agg(F.min(strct).alias("_first"))
    return agg.select(*keys, *[F.col(f"_first.{c}").alias(c) for c in cols])


def partial_sums(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    sum_col: str = "psum",
    cnt_col: str = "pcnt",
) -> DataFrame:
    """Algebraic partial aggregate (sum, count) per key — the unit of
    incremental materialized-view maintenance: partials from disjoint
    batches merge losslessly (``merge_partials``) without touching the
    already-aggregated history, so a 100 TB rollup absorbs a daily delta
    by re-aggregating ONLY the delta plus one merge over partial rows
    (cardinality = distinct keys, not raw rows)."""
    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(
        F.sum(v).alias(sum_col), F.count(v).alias(cnt_col)
    )


def merge_partials(
    partials: list[DataFrame],
    keys: list[str],
    sum_col: str = "psum",
    cnt_col: str = "pcnt",
) -> DataFrame:
    """Merge per-batch partial aggregates: union + re-sum. sum-of-sums and
    sum-of-counts are exact (algebraic); avg/variance derive from them at
    read time. The shuffle carries one row per (batch, key), never raw
    data."""
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy(*keys).agg(
        F.sum(sum_col).alias(sum_col), F.sum(cnt_col).alias(cnt_col)
    )


def exact_group_percentiles(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    ps: dict[str, float],
    num_range_partitions: int | None = None,
    n_col: str | None = None,
    prebarrier: bool = False,
) -> DataFrame:
    """Distributed EXACT linear-interpolation percentiles per group —
    the scale-safe replacement for Spark's ``percentile`` aggregate,
    which buffers each group's whole value multiset in executor memory
    (ObjectHashAggregate): at raw-row scale a handful of groups means a
    handful of OOMs. Here no task ever holds a group, and — unlike a
    per-group window sort, which serializes each group into one task —
    no task even holds a group's SORT:

    - pass 1 (the only full-data shuffle): range-partition by
      (keys..., value) into ``num_range_partitions`` splits and sort
      within partitions — a parallel external sort where a 20 TB group
      spreads across the cluster. ``monotonically_increasing_id`` over
      the sorted stream encodes (partition, local position).
    - pass 2 (metadata-sized): per-(partition, group) counts + first
      local position — at most splits x groups rows — yield each cell's
      global rank offset via a cumulative window; broadcast back, so
      global rank = local position - cell start + offset + 1.
    - pass 3: each percentile p needs only ranks floor(r)/ceil(r) where
      r = 1 + (n-1)*p — filter to those <=2 rows per (group, p) and
      aggregate the interpolation v_lo + frac*(v_hi - v_lo), the same
      formula DuckDB's ``quantile_cont`` and Spark's ``percentile`` use.

    ``ps`` maps output column name -> fraction in [0, 1]. NULL values
    are excluded (matching both engines' aggregate semantics). Groups
    where every value is NULL vanish. ``keys`` may be empty for global
    percentiles. The sorted+id frame is localCheckpoint'ed: the row ids
    are position-derived, so they must be frozen before feeding two
    consumers (the metadata pass and the rank lookup).
    """
    for name, p in ps.items():
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"percentile {name}={p} outside [0, 1]")
    ranked = group_ranked(
        df, keys, value, num_range_partitions, prebarrier=prebarrier
    )
    return percentiles_from_ranked(ranked, keys, ps, n_col=n_col)


def percentiles_from_ranked(
    ranked: DataFrame,
    keys: list[str],
    ps: dict[str, float],
    n_col: str | None = None,
) -> DataFrame:
    """Pass 3 of :func:`exact_group_percentiles` — the crossing-rank
    filter + interpolation aggregate — over an EXISTING
    :func:`group_ranked` frame, so a caller that needs the rank frame
    for more than one statistic (``mad_outliers``: the median AND the
    deviation pass) pays the range sort once and derives everything
    from it. ``n_col`` names an optional BIGINT output carrying the
    group's non-NULL row count (``_n`` rides every rank row, so the
    count is free here — a separate count aggregate would re-execute
    the whole input a second time, r11)."""
    if not ps:
        raise ValueError("ps must be non-empty")

    def bounds(p: float):
        r = F.lit(1.0) + (F.col("_n") - F.lit(1)).cast("double") * F.lit(p)
        lo = F.floor(r)
        frac = r - lo
        hi = F.when(frac > 0, lo + 1).otherwise(lo)
        return lo, hi, frac

    keep = None
    for p in set(ps.values()):
        lo, hi, _ = bounds(p)
        cond = (F.col("_rn") == lo) | (F.col("_rn") == hi)
        keep = cond if keep is None else (keep | cond)
    aggs = []
    if n_col is not None:
        # coalesce: a GLOBAL (keys=[]) aggregate over an empty rank frame
        # still returns one row, and its count must read 0 — the
        # reference engines' count(*) — not NULL (ADVICE r11, q223)
        aggs.append(
            F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias(n_col)
        )
    for name, p in ps.items():
        lo, hi, frac = bounds(p)
        vlo = F.max(F.when(F.col("_rn") == lo, F.col("_v")))
        vhi = F.max(F.when(F.col("_rn") == hi, F.col("_v")))
        # frac is group-constant (derives from _n); max() lifts it into
        # the aggregate namespace
        aggs.append((vlo + F.max(frac) * (vhi - vlo)).alias(name))
    return ranked.filter(keep).groupBy(*keys).agg(*aggs)


def group_ranked(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    num_range_partitions: int | None = None,
    tiebreak: list[str] | None = None,
    prebarrier: bool = False,
) -> DataFrame:
    """The distributed per-group rank frame behind
    :func:`exact_group_percentiles` (passes 1–2 of its docstring),
    reusable by any bottom-k / rank-cut operator: returns
    ``(keys..., [tiebreak...,] _v, _rn, _n)`` where ``_rn`` is the
    1-based rank of ``_v`` within its group's ascending order and ``_n``
    the group size. ``tiebreak`` columns extend the sort so equal values
    rank deterministically (and ride along in the output). No task ever
    holds a group or a group's sort — range partitioning spreads each
    group across the cluster; the per-cell offsets are metadata-sized
    and broadcast. NULL values are excluded.

    ``prebarrier`` freezes the narrow (keys, _v) projection BEFORE the
    range exchange: RangePartitioner samples its child with a FULL
    extra execution, so a derived input (join, window, aggregation)
    otherwise computes twice (r11 — q167's join-fed percentile measured
    3.6 → 2.3 s with the barrier). Leave False for bare scans and
    already-checkpointed inputs, where re-execution is a columnar
    re-read and the extra materialization is a measured wash-to-loss."""
    from pyspark.sql import Window

    tb = list(tiebreak or [])
    v = F.col(value) if isinstance(value, str) else value
    d = df.filter(v.isNotNull()).select(*keys, v.alias("_v"), *tb)
    if prebarrier:
        d = d.localCheckpoint(eager=False)
    spark = df.sparkSession
    nparts = num_range_partitions or max(
        spark.sparkContext.defaultParallelism, 8
    )
    base = (
        d.repartitionByRange(nparts, *keys, "_v", *tb)
        .sortWithinPartitions(*keys, "_v", *tb)
        .select(
            *keys,
            "_v",
            *tb,
            F.spark_partition_id().alias("_pid"),
            # pid * 2^33 + local position over the sorted stream
            (F.monotonically_increasing_id() % F.lit(1 << 33)).alias("_lidx"),
        )
        .localCheckpoint(eager=False)
    )
    # metadata pass: counts + first local index per (partition, group) —
    # partial aggregation, at most nparts x |groups| rows survive
    pc = base.groupBy("_pid", *keys).agg(
        F.count(F.lit(1)).alias("_c"), F.min("_lidx").alias("_start")
    )
    woff = Window.partitionBy(*keys).orderBy("_pid") if keys else (
        Window.partitionBy().orderBy("_pid")
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy()
    meta = pc.withColumn("_off", F.sum("_c").over(woff) - F.col("_c")).withColumn(
        "_n", F.sum("_c").over(wall)
    )
    return base.join(
        F.broadcast(meta.select("_pid", *keys, "_start", "_off", "_n")),  # bcast-ok: nparts x keys partition metadata
        ["_pid", *keys],
    ).withColumn(
        "_rn", F.col("_lidx") - F.col("_start") + F.col("_off") + F.lit(1)
    ).drop("_pid", "_lidx", "_start", "_off")


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    value: str,
    z: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier census via the Median Absolute Deviation:
    med = exact median of the group, mad = exact median of |v - med|,
    outlier ⇔ |v - med| > z·mad. Both medians run through
    :func:`exact_group_percentiles` (range-partitioned parallel sort — no
    per-group multiset buffering, no per-group serial sort), so the
    operator holds at raw-row scale where ``percentile``-style aggregates
    OOM. The two median frames are groups-sized and broadcast back.
    NULL values are excluded up front (matching
    :func:`exact_group_percentiles`), so ``n`` counts exactly the rows the
    medians were computed over — a NULL-heavy group can't report a
    denominator inconsistent with its statistic, and all-NULL groups are
    absent rather than half-joined. Returns (keys..., n, med, mad,
    n_outliers)."""
    from etl_jetro_spark.plans.hints import bcast_sized

    # ONE group_ranked frame serves the median probe AND the deviation
    # pass (r11): the previous exact_group_percentiles-then-rejoin form
    # re-scanned the raw input a second time just to compute |v - med| —
    # the rank frame's checkpointed base already holds (keys, _v), so
    # the deviation pass reads the materialized sort instead of the
    # source (one full input scan removed per call site; same floats —
    # identical rows through identical expressions).
    ranked = group_ranked(df, keys, value)
    med = percentiles_from_ranked(ranked, keys, {"_med": 0.5})
    # med/mad are group-keyed — cardinality tracks the group NDV, which
    # grows with the data for data-keyed groups, so the hints are
    # size-gated (AQE picks the strategy past the threshold).
    dev = ranked.select(*keys, "_v").join(bcast_sized(med), keys).withColumn(
        "_absdev", F.abs(F.col("_v") - F.col("_med"))
    # dev feeds both the MAD percentile pass and the final outlier
    # census; without a barrier the med-join re-runs for each consumer
    ).localCheckpoint(eager=False)
    mad = exact_group_percentiles(dev, keys, "_absdev", {"_mad": 0.5})
    j = dev.join(bcast_sized(mad), keys)
    return j.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.any_value(F.col("_med")).alias("med"),
        F.any_value(F.col("_mad")).alias("mad"),
        F.sum(
            (F.col("_absdev") > F.lit(z) * F.col("_mad")).cast("long")
        ).cast("long").alias("n_outliers"),
    )


def weighted_group_percentiles(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    weight: str | Column,
    ps: dict[str, float],
    tiebreak: list[str] | None = None,
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Distributed EXACT weighted percentiles per group: for each p, the
    smallest value whose cumulative weight (in (value, tiebreak) order)
    reaches p · total_weight — the lower weighted quantile, the
    definition a revenue-weighted median price uses. No engine aggregate
    exists for this in Spark OR DuckDB; both sides of the oracle replay
    the same cumulative definition.

    Same no-task-holds-a-group shape as :func:`exact_group_percentiles`:
    ONE range-partition shuffle on (keys, value, tiebreak), a
    metadata-sized per-(partition, group) weight-offset pass, and a
    partition-local running-sum window keyed by (physical partition,
    group) — its window partitions are bounded by the range split size,
    never by group size, so a 20 TB group still spreads. The ORDER of
    accumulation is deterministic (the tiebreak fixes it) but the
    ASSOCIATION is not: Spark folds per-(partition, group) chunk sums
    where a sequential engine accumulates strictly left-to-right, so the
    cumulative weight can differ by ulps cross-engine. The threshold
    comparison therefore allows a one-sided slack of
    min(1e-9 · total_weight, ½ · min_weight) per group — above
    chunked-association error (~1e-13..1e-10 relative) yet below HALF
    the smallest possible boundary gap (min_weight / total_weight), so
    the slack can never legitimately reach the previous row's cumulative
    weight even under heavy weight skew (one weight 1e12 next to weights
    of 1 caps the slack at 0.5, not 1e3 — ADVICE r5; the per-group
    min-weight bound replaces r4's fixed 1e-9). Residual limitation: if
    a group's min_weight/total_weight falls below ~2e-13 (the
    association-error scale — e.g. >5e12 near-equal weights in one
    group), no slack separates error from gap and the picked row can
    differ by one position cross-engine. NULL values and non-positive
    weights are excluded.

    ``ps`` maps output column name -> fraction in (0, 1]. Returns one
    row per group.
    """
    from pyspark.sql import Window

    for name, p in ps.items():
        if not (0.0 < p <= 1.0):
            raise ValueError(f"percentile {name}={p} outside (0, 1]")
    tb = list(tiebreak or [])
    v = F.col(value) if isinstance(value, str) else value
    w = F.col(weight) if isinstance(weight, str) else weight
    d = df.filter(v.isNotNull() & (w > 0)).select(
        *keys, v.alias("_v"), w.cast("double").alias("_w"), *tb
    )
    spark = df.sparkSession
    nparts = num_range_partitions or max(
        spark.sparkContext.defaultParallelism, 8
    )
    base = (
        d.repartitionByRange(nparts, *keys, "_v", *tb)
        .sortWithinPartitions(*keys, "_v", *tb)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # freeze pid/order for both passes
    )
    # metadata pass: per-(partition, group) weight sums -> global
    # offsets; per-cell min weight feeds the skew-safe slack bound
    pc = base.groupBy("_pid", *keys).agg(
        F.sum("_w").alias("_pw"), F.min("_w").alias("_pmw")
    )
    woff = Window.partitionBy(*keys).orderBy("_pid") if keys else (
        Window.partitionBy().orderBy("_pid")
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy()
    meta = (
        pc.withColumn("_off", F.sum("_pw").over(woff) - F.col("_pw"))
        .withColumn("_tw", F.sum("_pw").over(wall))
        .withColumn("_mw", F.min("_pmw").over(wall))
    )
    # Crossing-cells cut (r11): the picked row for percentile p is the
    # FIRST row (in (value, tiebreak) order) whose cumulative weight
    # reaches thresh_p = p·tw − slack. Its (partition, group) cell is
    # decidable from the metadata alone — the first cell whose running
    # offset interval [off, off+pw] contains thresh_p — so the window
    # pass only needs THOSE cells. Every later cell's values are ≥ the
    # picked value (range partitioning on (keys, value, tiebreak)), and
    # earlier cells never reach thresh_p, so the min-aggregate below is
    # unchanged. This shrinks the window's hash Exchange from the full
    # frame to ~|groups|·|ps| cells (each bounded by the range split) —
    # previously every row shuffled a second time just to compute a
    # running sum that only matters at the crossing.
    slack = F.least(F.lit(1e-9) * F.col("_tw"), F.lit(0.5) * F.col("_mw"))
    keep = None
    for p in set(ps.values()):
        thresh = F.lit(p) * F.col("_tw") - slack
        # off < thresh ≤ off+pw picks exactly the first crossing cell;
        # the off==0 disjunct covers a degenerate thresh ≤ 0 (p·tw below
        # slack), where the first row is the pick — extra rows it admits
        # sit below thresh and are filtered by the when() in the agg.
        c = (F.col("_off") + F.col("_pw") >= thresh) & (
            (F.col("_off") < thresh) | (F.col("_off") == 0.0)
        )
        keep = c if keep is None else keep | c
    # partition-local running weight: window partitions are (physical
    # partition, group) cells — bounded by the range split, not the group
    wloc = (
        Window.partitionBy("_pid", *keys)
        .orderBy("_v", *tb)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        base.join(
            F.broadcast(meta.select("_pid", *keys, "_pw", "_off", "_tw", "_mw")),  # bcast-ok: nparts x keys partition metadata
            ["_pid", *keys],
        )
        .filter(keep)
        .withColumn("_lc", F.sum("_w").over(wloc))
        .withColumn("_cw", F.col("_off") + F.col("_lc"))
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cw") >= F.lit(p) * F.col("_tw") - slack,
                F.col("_v"),
            )
        ).alias(name)
        for name, p in ps.items()
    ]
    return cum.groupBy(*keys).agg(*aggs)
