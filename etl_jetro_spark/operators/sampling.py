"""Deterministic sampling and dataset splits for training pipelines.

Random `df.sample()` is seed- and partitioning-dependent — useless for
reproducible train/val splits or cross-engine parity. These operators
derive the decision from a content hash (md5, the engine's shared hash):
the same row lands in the same split on any cluster, any partitioning,
any engine, forever. This is how large corpus pipelines actually assign
splits (hash-mod bucketing), and it's embarrassingly parallel — a pure
projection, no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from etl_jetro_spark.plans.hints import bcast_small, bcast_sized


def hash_bucket(col: str | Column, buckets: int = 10_000, salt: str = "") -> Column:
    """Stable bucket in [0, buckets) from md5 of the key (+ salt). The salt
    decorrelates independent sampling decisions over the same keys."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    # first 8 hex digits -> 32-bit int, non-negative
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Exact per-stratum quota sample: within each stratum, rank rows by
    (md5(salt||id), id) and keep the first ceil(fraction·|stratum|). Unlike
    a hash-bucket filter (:func:`weighted_hash_sample`, an expected
    fraction), every stratum contributes its exact quota — the
    per-language / per-source rebalancing step of corpus curation. Deterministic and engine-portable (md5 ranking).

    One shuffle on the stratum key. Skew note: a window over a stratum puts
    that stratum in one task; strata here are coarse dataset shards
    (languages, sources), whose count is small and sizes are bounded by
    design — for per-key rates over millions of keys use
    :func:`weighted_hash_sample`.
    """
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    from pyspark.sql import Window

    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt), idc.cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h, idc)
    quota = F.ceil(
        F.count(F.lit(1)).over(Window.partitionBy(strata_col)) * F.lit(fraction)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_q", quota)
        .filter(F.col("_rk") <= F.col("_q"))
        .drop("_rk", "_q")
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Assign every row to exactly one named split by cumulative hash-mod
    ranges (e.g. {'train': 0.9, 'val': 0.05, 'test': 0.05}). Fractions
    must sum to 1 (±1e-9)."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    buckets = 10_000
    b = hash_bucket(id_col, buckets, salt)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = b < int(acc * buckets)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(out, expr)


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-row weighted Bernoulli keep: row survives iff its
    hash bucket falls under ``weight`` (in [0, 1]) — the data-mixing
    primitive (per-source sampling rates) of a training corpus. Unlike
    ``sample()``, same input → same subset on any cluster/partitioning,
    and the weight can vary row-by-row (joined from a mixing table).
    Pure expression filter: embarrassingly parallel, no shuffle."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    buckets = 10_000
    # round, don't truncate: 0.3 * 10000 is 2999.9999999999995 in binary
    # floating point; a cast would drop a whole bucket while round-tripping
    # engines (DuckDB CAST rounds) would keep it
    return df.filter(
        hash_bucket(id_col, buckets, salt) < F.round(w * buckets).cast("long")
    )


def quota_cap(
    df: DataFrame,
    id_col: str,
    key_col: str,
    cap: int,
    salt: str = "",
    prefilter_slack: float = 4.0,
) -> DataFrame:
    """Per-key document cap: within each key keep the ``cap`` rows with
    the smallest (md5(salt||id), id) — the per-domain cap of web-corpus
    curation (C4/RefinedWeb keep at most N pages per host so no single
    domain dominates the training mix). Deterministic and engine-portable
    (same md5 ranking as :func:`stratified_sample`).

    EXACT at any key size without a key-sized sort task: a plain
    per-key rank window puts a 100M-page domain's whole posting list in
    one task. Instead (1) per-key counts join back (one key shuffle),
    (2) rows pre-filter to hash fraction ≤ slack·cap/n — an expected
    slack·cap survivors per key, so the rank window's partitions are
    CAP-sized, independent of domain size, (3) the rare key where the
    hash fluctuated below its quota (P ≈ e^{-cap} per key at slack 4)
    is detected by re-counting survivors and falls back to ranking its
    full posting list — exactness is by construction, not by chance.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    idc = F.col(id_col)
    h = F.md5(F.concat(F.lit(salt), idc.cast("string")))
    # 60-bit hash fraction in [0, 1): enough resolution that the
    # threshold comparison is effectively continuous
    hfrac = F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(
        float(1 << 60)
    )
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    j = df.join(counts, key_col).withColumn("_hf", hfrac)
    thr = F.least(
        F.lit(1.0), F.lit(prefilter_slack) * F.lit(cap) / F.col("_n")
    )
    surv = j.filter(F.col("_hf") <= thr)
    # keys whose survivor pool fell below its quota rank their FULL list —
    # derived from `counts` (LEFT join), not from `surv`: a key whose
    # survivor pool is EMPTY never appears in surv at all and must still
    # be detected
    svc = surv.groupBy(key_col).agg(F.count(F.lit(1)).alias("_sn"))
    short = (
        counts.join(svc, key_col, "left")
        .filter(
            F.coalesce(F.col("_sn"), F.lit(0))
            < F.least(F.lit(cap).cast("long"), F.col("_n"))
        )
        .select(key_col)
    )

    # `short` is keyed by key_col — its cardinality tracks the key NDV,
    # which can grow with the corpus, so the hint is size-gated rather
    # than forced (falls back to AQE join selection past the threshold).
    short_h = bcast_sized(short)
    pool = surv.join(short_h, key_col, "left_anti").unionByName(
        j.join(short_h, key_col, "left_semi")
    )
    w = Window.partitionBy(key_col).orderBy("_hf", idc)
    return (
        pool.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk", "_n", "_hf")
    )


def target_mix_resample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    targets: dict[str, float],
    salt: str = "",
    strict: bool = False,
) -> DataFrame:
    """Downsample-only importance resampling toward a target group mix
    (the data-mixture rebalancing step of corpus curation — e.g. force a
    uniform language mix from a skewed crawl). Per-group keep rate =
    min(1, (target_g / actual_g) · c) where c scales so the most
    UNDER-represented group keeps everything (no group is upsampled;
    the output is the largest subset achieving the target proportions).
    Rates quantize to 1/10000 (``weighted_hash_sample`` buckets) so the
    accept decision is boundary-ulp-proof cross-engine.

    Rows whose group is ABSENT from ``targets`` (or whose target share
    is 0) are DROPPED — the output mix is over the listed groups only.
    A positive-share target group with ZERO input rows cannot
    contribute, so the requested mix is unattainable; by default that
    group is silently skipped when computing c (the output then follows
    the mix renormalized over the groups that exist). Pass
    ``strict=True`` to instead raise ``ValueError`` — this runs one
    eager groups-sized aggregate at call time, so the default stays
    lazy for plan-only callers.

    Returns the resampled rows plus ``_keep_rate``. Group shares are a
    groups-sized aggregate broadcast back; the accept filter is a pure
    projection — no data-scale shuffle anywhere.
    """
    tot = sum(targets.values())
    if abs(tot - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1, got {tot}")
    if strict:
        present = {
            r[0]
            for r in df.select(group_col).distinct().collect()
        }
        missing = sorted(
            g for g, v in targets.items() if v > 0 and g not in present
        )
        if missing:
            raise ValueError(
                "target groups with positive share but no input rows "
                f"(requested mix unattainable): {missing}"
            )
    shares = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gn"))
    tgt = F.create_map(
        *[x for k, v in targets.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    # c = min_g actual_g / target_g, over groups present in targets;
    # actual_g = _gn / N with N folded out: rate = min(1, (t_g/_gn) * min_h(_hn/t_h))
    withc = (
        shares.withColumn("_t", tgt[F.col(group_col)])
        .filter(F.col("_t").isNotNull() & (F.col("_t") > 0))
        .withColumn("_ratio", F.col("_gn") / F.col("_t"))
    )
    cmin = withc.agg(F.min("_ratio").alias("_c"))
    rates = withc.crossJoin(bcast_small(cmin)).select(  # bound: 1-row scalar
        group_col,
        F.least(
            F.lit(1.0), F.col("_t") * F.col("_c") / F.col("_gn")
        ).alias("_keep_rate"),
    )
    j = df.join(bcast_small(rates), group_col)  # bound: len(targets)-bounded
    return weighted_hash_sample(j, id_col, F.col("_keep_rate"), salt=salt)
