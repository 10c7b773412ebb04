"""Time-series regularization and event analytics.

Gap filling turns an irregular event stream into a dense, regular series —
the precondition for any rolling-window model feature or downstream
resample. The spine (one row per key per bucket between that key's first
and last observation) is generated with ``sequence`` + ``explode``:
partition-local row generation, zero shuffle, exactly like the unpivot
Expand. Fill strategies are single window passes over (key, bucket).

Buckets are integer epoch seconds (BIGINT), not timestamps: tz-free,
engine-portable (the DuckDB oracles use the same arithmetic), and the
spine step is plain integer addition.

Scale: the spine size is Σ_key (span_key / step) — rows are generated
inside tasks after a per-key bounds aggregation (one shuffle, tiny
output). The fill windows partition by key and sort by bucket: one
shuffle on the key, which AQE splits if a key's span is pathological.
Cohort/funnel/histogram are plain partial-agg shapes (map-side combine,
one shuffle each).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(ts_sec: Column, step_sec: int) -> Column:
    """Floor an epoch-seconds value onto a ``step_sec`` grid (BIGINT)."""
    return (ts_sec.cast("long") / F.lit(step_sec)).cast("long") * step_sec


def time_spine(
    buckets: DataFrame, key_cols: list[str], bucket_col: str, step_sec: int
) -> DataFrame:
    """Dense per-key spine: one row per ``step_sec`` bucket between each
    key's min and max observed bucket. Input must already be bucketed
    (one row per (key, bucket)).

    The bounds aggregation shuffles one tiny row per key; the sequence
    explode then generates spine rows partition-locally.
    """
    bounds = buckets.groupBy(*key_cols).agg(
        F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx")
    )
    return bounds.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step_sec))
        ).alias(bucket_col),
    )


def gap_fill_locf(
    buckets: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_col: str,
    step_sec: int,
    out_col: str = "filled",
) -> DataFrame:
    """Join the dense spine and fill holes by carrying the last observed
    value forward (LOCF). First buckets are observed by construction
    (the spine starts at each key's min), so the output has no nulls.

    One window pass: ``last(value, ignorenulls=True)`` over an unbounded-
    preceding frame — O(1) running state per partition cursor.
    """
    spine = time_spine(buckets, key_cols, bucket_col, step_sec)
    joined = spine.join(buckets, [*key_cols, bucket_col], "left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *key_cols,
        bucket_col,
        F.last(value_col, ignorenulls=True).over(w).alias(out_col),
    )


def gap_fill_linear(
    buckets: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_col: str,
    step_sec: int,
    out_col: str = "filled",
    scale: int | None = None,
) -> DataFrame:
    """Join the dense spine and linearly interpolate holes between the
    surrounding observations; holes after the last observation fall back
    to LOCF (and before the first, to backfill — unreachable when the
    spine starts at each key's min bucket).

    With ``scale`` set (e.g. 10_000 for 4-dp values), interpolation runs
    in EXACT fixed-point integer arithmetic — values are scaled to
    BIGINT, the weighted average ``(pv·(nb−b) + nv·(b−pb)) / (nb−pb)``
    is computed on integers and only the final quotient touches doubles
    — so the result is bit-identical on any engine and any partitioning
    (plain double interpolation can land on a decimal rounding boundary
    where engines' round() semantics disagree).

    Both directions use RUNNING frames (unbounded-preceding → current):
    the "next observation" comes from a descending-ordered running
    ``last`` rather than a ``[current, unbounded following]`` frame —
    Spark executes unbounded-FOLLOWING frames by rescanning the partition
    remainder per row (O(n²) per key; measured 92 s vs 4 s at sf0.1 on a
    1M-row spine), while running frames are O(n) cursor state. The two
    sorts (asc + desc) share one exchange on the key.
    """
    spine = time_spine(buckets, key_cols, bucket_col, step_sec)
    joined = spine.join(buckets, [*key_cols, bucket_col], "left")
    wp = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value_col)
    b = F.col(bucket_col)
    obs_bucket = F.when(v.isNotNull(), b)
    if scale is not None:
        vs = F.when(v.isNotNull(), F.round(v * scale, 0).cast("long"))
        pv = F.last(vs, ignorenulls=True).over(wp)
        pb = F.last(obs_bucket, ignorenulls=True).over(wp)
        nv = F.last(vs, ignorenulls=True).over(wf)
        nb = F.last(obs_bucket, ignorenulls=True).over(wf)
        den = F.lit(float(scale))
        num = pv * (nb - b) + nv * (b - pb)
        interp = (
            F.when(v.isNotNull(), vs.cast("double") / den)
            .when(nv.isNull(), pv.cast("double") / den)  # tail: LOCF
            .when(pv.isNull(), nv.cast("double") / den)  # head: backfill
            .otherwise(
                num.cast("double") / (nb - pb).cast("double") / den
            )
        )
    else:
        pv = F.last(v, ignorenulls=True).over(wp)
        pb = F.last(obs_bucket, ignorenulls=True).over(wp)
        nv = F.last(v, ignorenulls=True).over(wf)
        nb = F.last(obs_bucket, ignorenulls=True).over(wf)
        frac = (b - pb).cast("double") / (nb - pb).cast("double")
        interp = (
            F.when(v.isNotNull(), v.cast("double"))
            .when(nv.isNull(), pv.cast("double"))  # tail: LOCF
            .when(pv.isNull(), nv.cast("double"))  # head: backfill
            .otherwise(pv + (nv - pv) * frac)
        )
    return joined.select(*key_cols, bucket_col, interp.alias(out_col))


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_sec_col: Column | str,
    period_sec: int,
) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen period
    (cohort), counted distinct in each subsequent period offset.

    Shape: first-seen is a min-aggregate per user (one shuffle, map-side
    combine); the activity join is user→cohort (broadcastable when the
    user dim fits, hash join otherwise); the final count-distinct
    collapses to one row per (cohort, offset).
    """
    ts = F.col(ts_sec_col) if isinstance(ts_sec_col, str) else ts_sec_col
    e = events.select(
        F.col(user_col).alias("_u"), time_bucket(ts, period_sec).alias("_p")
    )
    first_seen = e.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    return (
        e.join(first_seen, "_u")
        .groupBy(
            F.col("_cohort").alias("cohort_period"),
            ((F.col("_p") - F.col("_cohort")) / F.lit(period_sec))
            .cast("long")
            .alias("periods_since"),
        )
        .agg(F.count_distinct(F.col("_u")).alias("n_users"))
    )


def funnel_df(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel in one plan (no driver-side counts): for each step
    i, the number of users who performed steps[0..i] in strict timestamp
    order — each step's reach time is the earliest event of that type
    strictly after the previous step's reach time.

    One shuffle on the user key: funnel-typed events are collected per
    user as a time-sorted list and the step chain is resolved with a
    linear expression-space fold (``F.aggregate``) — processing events
    in time order, step i's slot is filled by the first type-i event
    seen after slot i-1 is filled. Scale note: per-user state is the
    user's funnel-typed events only (the stream is filtered by type
    before the shuffle).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, t = F.col(user_col), F.col(ts_col)
    # per (user, type) earliest K timestamps would be needed for exact
    # chain resolution in general; with strict-after semantics over step
    # minima, per-user ordered event list of ONLY funnel-typed events is
    # bounded by events-per-user and resolved with a linear fold.
    typed = events.filter(F.col(type_col).isin(steps)).select(
        u.alias("_u"), t.alias("_ts"), F.col(type_col).alias("_ty")
    )
    per_user = typed.groupBy("_u").agg(
        F.sort_array(F.collect_list(F.struct("_ts", "_ty"))).alias("_evs")
    )
    # fold: state = array of reach-times per step (null = not reached)
    ts_type = events.schema[ts_col].dataType.simpleString()
    init = F.array(*[F.lit(None).cast(ts_type) for _ in steps])
    state = F.aggregate(
        F.col("_evs"),
        init,
        lambda acc, ev: F.array(
            *[
                F.when(acc[i].isNotNull(), acc[i]).otherwise(
                    F.when(
                        (ev["_ty"] == steps[i])
                        & (acc[i - 1].isNotNull() if i > 0 else F.lit(True))
                        & ((ev["_ts"] > acc[i - 1]) if i > 0 else F.lit(True)),
                        ev["_ts"],
                    )
                )
                for i in range(len(steps))
            ]
        ),
    )
    reached = per_user.select(state.alias("_st"))
    agg = reached.agg(
        *[
            F.sum(F.col("_st")[i].isNotNull().cast("long")).alias(f"_s{i}")
            for i in range(len(steps))
        ]
    )
    rows = [
        F.struct(
            F.lit(i + 1).alias("step"),
            F.lit(s).alias("event_type"),
            F.col(f"_s{i}").cast("bigint").alias("n_users"),
        )
        for i, s in enumerate(steps)
    ]
    return agg.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def value_histogram(
    df: DataFrame, value_col: str, width: float, min_val: float = 0.0
) -> DataFrame:
    """Fixed-width histogram: bucket index, inclusive lower bound, count.
    A pure projection + partial-agg count — the cheapest possible shape;
    bucket cardinality is range/width regardless of row count.
    """
    v = F.col(value_col)
    idx = F.floor((v - F.lit(min_val)) / F.lit(width)).cast("long")
    return (
        df.filter(v.isNotNull())
        .groupBy(idx.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bucket",
            F.round(F.lit(min_val) + F.col("bucket") * F.lit(width), 4).alias(
                "lo"
            ),
            "n",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance: int | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """General as-of join — per left row, ONE matching right row by time:
    the latest at-or-before (``backward``), earliest at-or-after
    (``forward``), or closest either way (``nearest``, ties resolved
    backward). ``tolerance`` (same units as the time columns) nulls out
    matches farther than the bound — the feature-staleness guard.

    ``right_tiebreak`` names a right-side column that totals the order
    when several right rows share the same (keys, time): the backward
    sweep then deterministically picks the LARGEST tiebreak among the
    tied rows and the forward sweep the SMALLEST (ADVICE r4 — without
    it the sweeps order only by (time, side) and ties resolve by
    partition/sort accident). Leave it None only when right is unique
    per (keys, time) — q147 pre-collapses to min event_id for exactly
    this reason.

    Union-sweep shape, not a range join: both sides union into one
    stream, ONE shuffle on the keys, and per-direction running
    last/first-non-null windows over the (time, side) ordering assign
    the match — same-time right rows count for both directions
    (at-or-before / at-or-after are inclusive). Sweep state is one value
    row per window; no per-left probe, no interval explosion. ``nearest``
    runs both sweeps as two window passes over the same partitioning
    (Catalyst orders the same exchange twice — two sorts, one shuffle).

    Returns every left row + ``value_cols`` + ``matched_time`` (NULL
    when unmatched or out of tolerance).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    clash = sorted((set(value_cols) | {"matched_time"}) & set(left.columns))
    if clash:
        raise ValueError(f"asof_join output collides with left columns: {clash}")
    lcols = list(left.columns)
    tb_type = dict(right.dtypes)[right_tiebreak] if right_tiebreak else "int"
    # The matched right row travels as ONE struct, swept atomically —
    # per-column last/first(ignorenulls) would let a NULL field in the
    # matched row fall back to an OLDER row's value, silently fusing
    # fields from different right rows. The struct is non-null iff a
    # right row exists; its fields keep the matched row's own NULLs.
    rv = F.struct(
        *[F.col(c).alias(c) for c in value_cols],
        F.col(right_time).alias("__rt"),
    )
    vtype = right.select(rv.alias("_v")).schema[0].dataType.simpleString()
    l = left.select(
        *lcols,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_isl"),
        F.lit(None).cast(tb_type).alias("_tb"),
        F.lit(None).cast(vtype).alias("_v"),
    )
    r = right.select(
        *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) for c in lcols if c not in keys],
        *keys,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_isl"),
        (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).cast(tb_type).alias("_tb"),
        rv.alias("_v"),
    ).select(*l.columns)
    u = l.unionByName(r)
    bsel = fsel = None
    if direction in ("backward", "nearest"):
        # right rows (0) sort BEFORE left rows (1) at equal t — inclusive;
        # _tb asc means last(ignorenulls) keeps the LARGEST tiebreak among
        # tied right rows
        wb = (
            Window.partitionBy(*keys)
            .orderBy("_t", "_isl", F.col("_tb").asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        bsel = F.last("_v", ignorenulls=True).over(wb).alias("_bv")
    if direction in ("forward", "nearest"):
        # left rows (1-_isl = 0) sort BEFORE right rows at equal t, so the
        # current-row..following frame still sees a same-t right row;
        # first(ignorenulls) keeps the SMALLEST tiebreak among tied rows
        wf = (
            Window.partitionBy(*keys)
            .orderBy("_t", 1 - F.col("_isl"), F.col("_tb").asc_nulls_first())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        fsel = F.first("_v", ignorenulls=True).over(wf).alias("_fv")
    swept = u.select("*", *[x for x in (bsel, fsel) if x is not None])
    if direction == "backward":
        pick = F.col("_bv")
    elif direction == "forward":
        pick = F.col("_fv")
    else:
        db = F.col("_t") - F.col("_bv").getField("__rt")
        df_ = F.col("_fv").getField("__rt") - F.col("_t")
        use_b = F.col("_fv").isNull() | (
            F.col("_bv").isNotNull() & (db <= df_)
        )
        pick = F.when(use_b, F.col("_bv")).otherwise(F.col("_fv"))
    if tolerance is not None:
        within = F.abs(F.col("_t") - pick.getField("__rt")) <= F.lit(tolerance)
        pick = F.when(within, pick)
    sel = swept.filter(F.col("_isl") == 1).select(
        *lcols,
        *[pick.getField(c).alias(c) for c in value_cols],
        pick.getField("__rt").alias("matched_time"),
    )
    return sel
