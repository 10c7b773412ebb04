"""Corpus comparison & mixture-design statistics operators.

The corpus-curation layer of a training-data platform: before assigning
mixture weights across sources, a curator needs to know how the sources
DIFFER — distributional divergence (Jensen-Shannon over a shared
vocabulary), lexical-law fits (Zipf slope, Heaps vocabulary-growth
exponent), homogeneity tests (chi-square over a shared top-term grid),
language-model affinity (smoothed cross-entropy of each source under
the corpus LM), distinctive-term extraction (Monroe et al.'s log-odds
with an informative Dirichlet prior, "Fightin' Words"), and tokenizer
coverage (OOV rate against a reference vocabulary). The events-side
analogues — Markov transition entropy and Goh–Barabási burstiness —
profile behavioural streams the same way.

Engine-portability rules (the 30x-oracle-gate lessons, see SCALE.md):

- every count is an exact BIGINT until ONE final division; probability
  vectors are built by identical IEEE division of identical exact
  integers on both engines, so ln()/sqrt() always see bit-identical
  arguments;
- ln/exp/sqrt are not correctly rounded; they appear only in OUTPUT
  columns (6 dp round) or feed a rank AFTER a 9 dp round with an exact
  tiebreak (the q383 keyness rank), the Davies-Bouldin/BH pattern;
- double SUMS (OLS moments, divergence/entropy accumulators) fold in
  engine-dependent order; every such sum is output-only under the 6 dp
  round, never a decision input.

Scale shape: every operator here is one corpus-linear token pass
(explode -> groupBy term, map-side combined) followed by work bounded
by #sources x vocab-cap; ranks over vocabulary-sized frames ride the
range-partitioned rank frame (operators.aggregate.group_ranked), never
a single-task window.

Reference parity: the reference repo (an ETL/reporting engine — see
SURVEY §2) has no corpus-statistics layer; this module extends the
engine along the training-data-platform axis the project brief names
as first-class (mixture design over heterogeneous sources at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_jetro_spark.functions.hashing import norm_text


def word_rows(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Exploded ``(keep..., w)`` word rows of the normalized text —
    lowercase, non-alnum stripped, whitespace collapsed, empty tokens
    dropped (the engine's canonical tokenization, identical to the
    oracle-side ``string_split`` of the same normalization). Explode is
    partition-local: zero shuffle until the caller aggregates.
    (r12 measured loser: a ``spread`` here — repartitioning the raw
    text to unlock cores on the single-file scan — read q377 1.75→1.93,
    q378 1.37→1.41, q379 2.88→3.51 tbench min-of-3; the split+explode
    is cheap codegen and the repartition of the full text costs more
    than the parallelism buys at sf0.1.)"""
    return df.select(
        *keep, F.explode(F.split(norm_text(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")


def ols_fit(
    df: DataFrame,
    keys: list[str],
    x: Column,
    y: Column,
    prefix: str = "",
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y`` on ``x``: returns
    ``(keys..., {p}n, {p}slope, {p}intercept, {p}r2)`` computed from the
    five scatter moments in ONE partial-aggregated pass:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx)
        intercept = (Sy - slope*Sx) / n
        r2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    The moment sums are double accumulations (fold-order-dependent at
    the last ulp) — callers must treat the fit columns as OUTPUT-ONLY
    under the 6 dp round. The one DECISION (the r2 degenerate-variance
    guard) is made on 9 dp-rounded variances: a mathematically-zero
    variance folds to +/-1e-13 with an engine-dependent SIGN, so a raw
    ``> 0`` flips cross-engine (the q379 src4 case at sf0.01). The
    oracle side mirrors the exact same closed form over the same
    per-row doubles."""
    p = prefix
    g = df.select(*keys, x.alias("_x"), y.alias("_y")).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(f"{p}n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col(f"{p}n").cast("double")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = cov_n / var_x
    return g.select(
        *keys,
        f"{p}n",
        slope.alias(f"{p}slope"),
        ((F.col("_sy") - slope * F.col("_sx")) / n).alias(f"{p}intercept"),
        F.when(
            (F.round(var_x, 9) > 0) & (F.round(var_y, 9) > 0),
            cov_n * cov_n / (var_x * var_y),
        ).alias(f"{p}r2"),
    )


def sql_ols_select(p: str = "") -> str:
    """The oracle-side mirror of :func:`ols_fit`'s closed form, as a
    SELECT fragment over a CTE with per-row columns ``x`` and ``y``
    (append ``FROM ... GROUP BY ...`` and alias as needed). Emits
    ``{p}n, {p}slope, {p}intercept, {p}r2`` with the IDENTICAL
    operation sequence — n*Sxy - Sx*Sy, never a re-association."""
    n = "CAST(count(*) AS DOUBLE)"
    sx, sy = "sum(x)", "sum(y)"
    sxx, syy, sxy = "sum(x*x)", "sum(y*y)", "sum(x*y)"
    cov = f"({n} * {sxy} - {sx} * {sy})"
    vx = f"({n} * {sxx} - {sx} * {sx})"
    vy = f"({n} * {syy} - {sy} * {sy})"
    return (
        f"CAST(count(*) AS BIGINT) AS {p}n, "
        f"{cov} / {vx} AS {p}slope, "
        f"({sy} - {cov} / {vx} * {sx}) / {n} AS {p}intercept, "
        f"CASE WHEN round({vx}, 9) > 0 AND round({vy}, 9) > 0 "
        f"THEN {cov} * {cov} / ({vx} * {vy}) END AS {p}r2"
    )
