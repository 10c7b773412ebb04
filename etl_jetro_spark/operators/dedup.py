"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document table.
Scale design notes (the 100 TB story):

- **Exact**: one shuffle on the md5 fingerprint; map-side partial agg makes
  the shuffle carry (fingerprint, min_id, count) only.
- **MinHash LSH**: signatures are computed expression-only (no UDF, no
  shuffle); candidate generation explodes (id, band_key) — bands× row
  amplification, tiny rows — then a self-equi-join on band_key. No pairwise
  cartesian anywhere; cost is Σ bucket² over band buckets, the standard LSH
  bound. Banding parameters tune the S-curve.
- **SimHash**: 64-bit fingerprint; near-dup candidates share one of 4
  16-bit chunks (Hamming ≤3 guaranteed caught by pigeonhole with 4 chunks),
  verified by exact Hamming distance.
- **n-gram Jaccard**: exact, via shingle inverted index (explode distinct
  shingles → self-join → count). A document-frequency cap drops
  ultra-common shingles to kill join skew (hot shingles are worthless for
  dedup evidence anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from etl_jetro_spark.plans.hints import bcast_small

from etl_jetro_spark.operators.util import spread
from etl_jetro_spark.functions.hashing import (
    doc_fingerprint,
    lsh_band_keys,
)



def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    distinct: bool,
) -> DataFrame:
    """Exploded (_id, _sh) word-n-gram shingle rows, generated
    PARTITION-LOCALLY: ``arrays_zip`` of the word array with its own
    shifted slices, exploded, tail rows filtered — zero shuffle, full
    whole-stage codegen. (The lambda HOF walk is CodegenFallback and
    measured 7× slower; the previous window-lead shape was codegen but
    shuffled every word of the corpus by doc id — this form measured
    0.27 s vs its 0.93 s at sf0.1 and removes that shuffle entirely,
    which is the difference that matters at 100 TB.) The shingle multiset
    is that of the word n-gram array of ``norm_text``.
    """
    from etl_jetro_spark.functions.hashing import norm_text

    _MAX = 2147483647
    base = spread(df).select(
        F.col(id_col).alias("_id"), F.split(norm_text(text_col), " ").alias("_w")
    )
    cols = [F.col("_w").alias("c0")] + [
        F.slice("_w", k + 1, _MAX - k).alias(f"c{k}") for k in range(1, n)
    ]
    z = F.arrays_zip(*cols)
    # distinct=True means distinct per (_id, _sh) — i.e. PER-DOC set
    # semantics, since _id is in the key. array_distinct on the zipped
    # struct array does that dedup partition-locally BEFORE the explode
    # (r11): the old post-explode .distinct() paid a full exchange of
    # the shingle stream for a dedup that never crossed documents.
    # Struct-distinct == shingle-string-distinct for the surviving rows:
    # words carry no spaces (norm_text collapses whitespace), so
    # concat_ws is injective, and every struct passing the tail filter
    # has all n fields non-null. Measured 0.87 -> 0.33 s at sf0.1,
    # row multisets identical.
    sh = (
        base.select(
            "_id",
            F.explode(F.array_distinct(z) if distinct else z).alias("_z"),
        )
        .filter(
            F.col(f"_z.c{n - 1}").isNotNull() & (F.col("_z.c0") != "")
        )
        .select(
            "_id",
            F.concat_ws(" ", *[F.col(f"_z.c{i}") for i in range(n)]).alias("_sh"),
        )
    )
    return sh


def char_gram_rows(
    df: DataFrame, keep_cols: list[str], text_col: str, n: int
) -> DataFrame:
    """Exploded (keep_cols..., _g) character n-gram OCCURRENCE rows of the
    normalized text — the char mirror of :func:`shingle_rows`, generated
    PARTITION-LOCALLY in whole-stage codegen: explode the POSITION
    sequence, then one plain ``substring(_t, _i, n)`` per emitted row.
    An array form (a ``transform`` over the positions + explode) walks an
    interpreted HOF lambda (``transform`` is CodegenFallback) and
    allocates the full gram-string array per document before the
    Generate; here the only per-document allocation is an int sequence
    and each gram string is built once, inside the same codegen stage
    that consumes it (r12; the word path measured 7× for the same swap).
    Gram multisets are identical. ``spread`` unlocks the cores on
    single-file inputs (this stage is the corpus-wide hot loop)."""
    from etl_jetro_spark.functions.hashing import norm_text

    base = spread(df).select(
        *keep_cols, norm_text(text_col).alias("_t")
    )
    # short/NULL-text guard INSIDE the generator (not a Filter): a pushed
    # filter on length(_t) would re-evaluate the two-regex normalization
    # at the scan. NB: F.sequence(1, 0) yields a DESCENDING [1, 0], not
    # [] — the empty-array branch is load-bearing.
    pos = F.when(
        F.length("_t") >= n,
        F.sequence(F.lit(1), F.length("_t") - (n - 1)),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return base.select(
        *keep_cols,
        "_t",
        F.explode(pos).alias("_i"),
    ).select(
        *keep_cols, F.expr(f"substring(_t, _i, {int(n)})").alias("_g")
    )


def capped_index(
    index: DataFrame, key_col: str, max_doc_freq: int
) -> DataFrame:
    """Drop inverted-index keys whose document frequency exceeds
    ``max_doc_freq`` — THE skew guard every pair-generating self-join
    needs before it ships (a key shared by f documents contributes f²
    candidate pairs; boilerplate keys carry no discriminative signal for
    dedup/copy detection yet dominate the join cost quadratically).

    Inverted for scale: the keys OVER the cap are the tiny set (hot
    boilerplate — bounded by definition, regardless of corpus size), so
    aggregate partials, keep the violators, broadcast ANTI-join them out.
    The index itself never shuffles for the cap and nothing
    vocabulary-sized is ever broadcast (the under-cap vocabulary grows
    with the corpus; the over-cap set does not).

    ``index`` is any (doc, key) frame — one row per posting;
    ``key_col`` names the index key. Used by
    :func:`ngram_jaccard_pairs`, :func:`containment_pairs`,
    :func:`prefix_filter_jaccard_pairs` (optional — it is lossless
    WITHOUT a cap) and :func:`winnow_overlap_pairs`.
    """
    hot = (
        index.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select(key_col)
    )
    return index.join(bcast_small(hot), key_col, "left_anti")  # bound: df>cap hot keys, Zipf head-bounded


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct normalized text: the minimum id wins
    (deterministic). Returns (id, fingerprint, dup_count)."""
    return (
        spread(df)
        .select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "fingerprint", "dup_count")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, where est_jaccard is
    the fraction of agreeing minhash components (unbiased Jaccard estimate).

    ``shingles`` optionally supplies a pre-built ``shingle_rows(...,
    distinct=False)`` frame (columns ``_id``, ``_sh``, multiset) so a
    caller that ALSO needs the shingle stream — e.g. an exact-Jaccard
    audit next to the banding — tokenizes the corpus once and shares the
    checkpoint instead of re-deriving it per consumer.
    """
    rows_per_band = num_hashes // bands
    # Columnar signature over exploded shingle rows: everything stays in
    # whole-stage codegen (array HOFs are CodegenFallback/interpreted — the
    # HOF form measured ~12 s vs ~5 s for this shape at sf0.1). Min over
    # the multiset equals min over the set, so no distinct is needed. The
    # persist barrier BEFORE the self-join is load-bearing: without it
    # Catalyst inlines the signature subtree into both join sides, the
    # band explode, and the estimate (measured 400+ s).
    sh = (
        shingles
        if shingles is not None
        else shingle_rows(df, id_col, text_col, shingle_words, distinct=False)
    )
    # parsed-SQL form: the Column listcomp issued ~5 py4j roundtrips per
    # hash seed at query CONSTRUCTION (~0.3 s per call site at 32
    # hashes); one F.expr per seed / one for the array is the same
    # parsed tree (r11)
    mins = sh.groupBy("_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', _sh))) AS _m{i}")
            for i in range(num_hashes)
        ]
    )
    # empty shingle sets fall out of the explode; restore with the stable
    # seed-hash sentinel (md5 of the seed alone)
    sig = (
        df.select(F.col(id_col).alias("_id"))
        .join(mins, "_id", "left")
        .select(
            "_id",
            F.expr(
                "array("
                + ",".join(
                    f"coalesce(_m{i}, md5('{i}:'))" for i in range(num_hashes)
                )
                + ")"
            ).alias("_sig"),
        )
        # lineage-truncating barrier: like persist() it stops Catalyst
        # inlining the signature subtree into both self-join sides
        # (measured 400+ s without it), but the backing RDD blocks are
        # released by the ContextCleaner when the DataFrame is GC'd —
        # repeated calls in a long session don't accumulate cache.
        .localCheckpoint(eager=False)
    )
    banded = sig.select(
        "_id", "_sig", F.explode(lsh_band_keys(F.col("_sig"), bands, rows_per_band)).alias("_band")
    )
    a = banded.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"), "_band")
    b = banded.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"), "_band")
    pairs = (
        a.join(b, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sig_a", "_sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float( num_hashes))
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity over distinct n-gram shingle sets, via an
    inverted shingle index (no cartesian join).

    ``max_doc_freq`` drops shingles appearing in more than that many docs —
    the skew guard for web-scale corpora.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # barrier: the shingle index feeds THREE consumers (per-doc sizes and
    # both sides of the self-join) — without it the shingling recomputes
    # per consumer. localCheckpoint instead of persist so the blocks are
    # GC-reclaimed (no cache accumulation across calls).
    sh = shingle_rows(df, id_col, text_col, n, distinct=True).localCheckpoint(
        eager=False
    )
    # sizes feeds BOTH the na and nb joins below; it is a per-doc count
    # (tiny next to the index) — checkpoint so the partial-agg pass over
    # the full index runs once, not once per alias
    sizes = (
        sh.groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )
    if max_doc_freq is not None:
        sh = capped_index(sh, "_sh", max_doc_freq)
    # canonical self-join: identical children on both sides (alias, not
    # pre-renamed projections) lets ReuseExchange serve the second side
    # from the first side's shuffle
    pair = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a._sh") == F.col("b._sh"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    common = pair.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_common"))
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT shingle-set CONTAINMENT: C(A,B) = |A∩B| / min(|A|, |B|) —
    the near-SUBSET detector Jaccard misses. A short document quoted
    wholesale inside a long one has low Jaccard (the union is huge) but
    containment ~1; corpus dedup needs both signals (Broder's
    containment, the resemblance/containment pair).

    Same scale shape as :func:`ngram_jaccard_pairs`: inverted shingle
    index, checkpointed once; optional hot-shingle ANTI-join cap;
    aliased self-join sharing one shuffle. Returns
    (id_a, id_b, containment) with id_a < id_b, containment >= threshold.
    """
    sh = shingle_rows(df, id_col, text_col, n, distinct=True).localCheckpoint(
        eager=False
    )
    sizes = (
        sh.groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )
    if max_doc_freq is not None:
        sh = capped_index(sh, "_sh", max_doc_freq)
    pair = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a._sh") == F.col("b._sh"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    common = pair.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_common"))
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    cont = F.col("_common") / F.least(F.col("_na"), F.col("_nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# hex digit -> value via its position in this alphabet (portable: instr/strpos)
_HEX = "0123456789abcdef"


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, shingle_words: int = 2
) -> DataFrame:
    """(id, simhash) 64-char bit strings, computed columnar over exploded
    shingle rows (64 sum-aggregates, whole-stage codegen): for each bit
    position, the sum over shingles of (2*bit-1) of md5's first 16 hex
    digits; the fingerprint bit is 1 iff the sum is positive. Measured ~2x
    faster than the same fold as array HOFs (interpreted).

    Votes sum over the shingle MULTISET (duplicates vote repeatedly).
    """
    sh = shingle_rows(df, id_col, text_col, shingle_words, distinct=False)
    # precompute the 16 nibbles ONCE per row (16 substring+instr), then
    # each of the 64 bit-vote aggregates is two integer ops on a nibble
    # column — measured ~35% off the fingerprint pass vs deriving every
    # bit from its own substring+instr (64 string probes per row)
    # parsed-SQL form (r11): the Column listcomps issued ~700 py4j
    # roundtrips per call at query construction; the strings parse to
    # the same instr/shiftright/sum trees, so execution is identical
    h = sh.selectExpr(
        "_id",
        *[
            f"instr('{_HEX}', substring(md5(_sh), {ci + 1}, 1)) - 1 AS _n{ci}"
            for ci in range(16)
        ],
    )
    aggs = []
    for p in range(64):
        ci, b = p // 4, 3 - (p % 4)
        aggs.append(
            F.expr(f"sum((shiftright(_n{ci}, {b}) & 1) * 2 - 1) AS _b{p}")
        )
    votes = h.groupBy("_id").agg(*aggs)
    fp = F.expr(
        "concat("
        + ",".join(
            f"CASE WHEN _b{p} > 0 THEN '1' ELSE '0' END" for p in range(64)
        )
        + ")"
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(votes, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(fp, F.lit("0" * 64)).alias("simhash"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with an evaluation/benchmark set (the n-gram-overlap rule
    used to scrub eval leakage from pretraining corpora).

    Scale shape: eval sets are tiny next to the corpus, so the eval shingle
    set is BROADCAST — the train side streams through a broadcast hash join
    with no shuffle of the corpus; per-doc hit counts then aggregate on the
    already-exploded (id, shingle) rows. Returns (id, n_shared) for flagged
    docs only.
    """
    ev = shingle_rows(eval_df, id_col, text_col, n, distinct=False).select(
        "_sh"
    ).distinct()
    # Join BEFORE de-duplicating the train shingles: the broadcast join
    # filters the corpus stream down to the (rare) contaminated rows, so the
    # distinct shuffles only hits — never the whole corpus's shingles.
    tr = shingle_rows(train, id_col, text_col, n, distinct=False)
    return (
        tr.join(bcast_small(ev), "_sh")  # bound: eval-set shingles; benchmarks are tiny by contract
        .select("_id", "_sh")
        .distinct()
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("_id").alias(id_col), "n_shared")
    )


def top_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 2, k: int = 20) -> DataFrame:
    """Top-k corpus n-grams by occurrence count (deterministic tiebreak:
    count desc, ngram asc) — the corpus-statistics pass behind boilerplate
    lists and repetition caps. One shuffle (groupBy shingle) with map-side
    partial agg; top-k via TakeOrdered, no global sort."""
    counts = (
        shingle_rows(df, id_col, text_col, n, distinct=False)
        .groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.orderBy(F.desc("cnt"), F.asc("_sh"))
        .limit(k)
        .select(F.col("_sh").alias("ngram"), F.col("cnt").cast("bigint"))
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental ingestion dedup: drop new documents whose content
    fingerprint already exists in the seen-corpus index, AND dedup the new
    batch against itself (keep min-id per fingerprint). This is the
    production shape — the corpus is never rescanned; only its fingerprint
    index (32 bytes/doc) is joined.

    ``seen_fingerprints`` needs a ``fingerprint`` column (e.g. from a
    previous ``exact_dedup`` run's sink). Scale: anti-join on the
    fingerprint — map-side partial agg for the in-batch dedup, and the
    index side is amenable to broadcast when the batch ⋘ corpus is false;
    at full scale both sides shuffle on the fingerprint, the classic
    hash-anti-join.
    """
    fp = spread(new_df).withColumn("fingerprint", doc_fingerprint(text_col))
    # no .distinct() on the index side: anti-join results are unaffected by
    # right-side duplicates, and a distinct would re-shuffle the whole
    # corpus index every batch for nothing.
    survivors = (
        fp.groupBy("fingerprint")
        .agg(F.min(F.col(id_col)).alias(id_col))
        .join(
            seen_fingerprints.select("fingerprint"),
            "fingerprint",
            "left_anti",
        )
    )
    return survivors.select(id_col, "fingerprint")


def keep_best_by(
    df: DataFrame,
    group_cols: str | list[str],
    order_cols: list,
    keep_cols: list[str],
) -> DataFrame:
    """Canonical-representative selection: one row per group, the minimum
    under ``order_cols`` (use descending-encoded keys, e.g. -quality, for
    arg-max). Min-struct aggregation — single shuffle with map-side
    partial agg, NO window sort (a window would sort every group; the
    struct-min carries one candidate per map task)."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    s = F.struct(*order_cols, *[F.col(c) for c in keep_cols])
    out = df.groupBy(*groups).agg(F.min(s).alias("_best"))
    return out.select(
        *groups, *[F.col(f"_best.{c}").alias(c) for c in keep_cols]
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm). Each char
    ``k``-gram of the normalized text is hashed; every window of ``w``
    consecutive k-gram hashes contributes its MINIMUM as a fingerprint;
    the distinct per-document fingerprint set is returned as
    ``(id, fingerprint)`` rows. Guarantee: any substring match of length
    >= k + w - 1 between two documents shares at least one fingerprint,
    and the expected density is 2/(w+1) of the k-gram count — a bounded
    fraction of the corpus feeds any downstream join.

    Scale shape: positions explode as an INT sequence and the k-gram
    substring + md5 evaluate ROW-LEVEL inside whole-stage codegen — the
    k-gram string array is never materialized (the previous
    array-of-substrings HOF shape was interpreted per element; this form
    measured 4-6 s -> 1.4 s at sf0.1). ONE shuffle partitions k-gram
    hashes by doc for the sliding-window min (streaming window state of w
    rows — no per-doc array, so a pathologically long document costs
    bandwidth, not executor memory); the distinct collapses on the same
    (id, fingerprint) partitioning with map-side partial agg. No
    reference counterpart (the reference has no fingerprinting); this is
    the rolling-hash fingerprint surface of the training-data brief.
    """
    from pyspark.sql import Window

    from etl_jetro_spark.functions.hashing import norm_text

    # materialize the normalization BEFORE position explosion — an inlined
    # norm_text re-runs its regexes per k-gram position (measured 66 s ->
    # 1.7 s for this operator at sf0.1)
    base = spread(df).select(
        F.col(id_col).alias("_id"), norm_text(text_col).alias("_t")
    )
    # NB: F.sequence(1, 0) yields a DESCENDING [1, 0], not [] — texts
    # shorter than k need the explicit empty branch
    positions = F.when(
        F.length("_t") < k, F.expr("CAST(array() AS array<int>)")
    ).otherwise(F.sequence(F.lit(1), F.length("_t") - (k - 1)))
    g = base.select(
        "_id",
        "_t",
        F.posexplode(positions).alias("_pos", "_p1"),
    ).select(
        "_id",
        "_pos",
        F.md5(F.substring(F.col("_t"), F.col("_p1"), k)).alias("_h"),
    )
    win = Window.partitionBy("_id").orderBy("_pos").rowsBetween(-(w - 1), 0)
    fp = (
        g.select("_id", "_pos", F.min("_h").over(win).alias("fingerprint"))
        # winnowing emits only FULL windows; the first w-1 positions are
        # prefixes of the first full window
        .filter(F.col("_pos") >= w - 1)
    )
    return fp.select(F.col("_id").alias(id_col), "fingerprint").distinct()


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 30,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MOSS-style copy detection: document pairs sharing at least
    ``min_shared`` winnowed fingerprints, with the shared count. The
    inverted-index self-join runs on the winnowed set (~2/(w+1) of the
    k-grams — the density bound that makes corpus-scale substring-match
    detection affordable).

    ``max_doc_freq`` routes the fingerprint index through
    :func:`capped_index` before the self-join. Winnowing bounds TOTAL
    index volume but NOT per-key skew: one boilerplate substring shared
    by f documents still yields f² candidate rows in that fingerprint's
    bucket, so at web scale an uncapped self-join degrades quadratically
    on boilerplate while everything around it stays linear. Fingerprints
    over the cap carry no copy-detection signal (shared by "everyone"
    means "template", not "copied from"), so capping changes reported
    counts only for boilerplate pairs — the same argument as
    :func:`ngram_jaccard_pairs`' shingle cap. Returns
    (id_a, id_b, n_shared).
    """
    # barrier FIRST: the winnowed index feeds the cap's hot-set aggregate,
    # the anti-join probe side, AND both self-join sides — checkpoint once
    # so the k-gram hashing + window min run once, not once per consumer
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w).localCheckpoint(
        eager=False
    )
    if max_doc_freq is not None:
        fp = capped_index(fp, "fingerprint", max_doc_freq)
    a = fp.withColumnRenamed(id_col, "id_a")
    b = fp.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_words: int = 10,
) -> DataFrame:
    """Corpus-level line dedup (the CCNet / RefinedWeb paragraph-hash
    shape, Wenzek et al. 2020): documents split into fixed
    ``line_words``-word lines; every line whose hash already occurred
    earlier in the corpus (order: (doc id, line index) lexicographic — the
    deterministic stand-in for ingest order) is dropped; survivors
    reassemble in document order. Returns
    ``(id, n_lines, n_kept, text_kept)`` for every input document
    (documents with no lines keep an empty string).

    Scale shape: line generation is expression-only; the first-occurrence
    decision is ONE shuffle partitioning lines by line-hash (row_number
    over (hash; doc,idx) — state per key is a counter, and hot duplicate
    lines are exactly the rows the operator deletes); reassembly is a
    second shuffle by doc id with map-side partial agg of (idx, line)
    structs. Both shuffles carry the line rows once — the canonical
    two-pass corpus-dedup cost.
    """
    from pyspark.sql import Window
    from etl_jetro_spark.functions.hashing import norm_text

    words = F.filter(F.split(norm_text(text_col), " "), lambda x: x != "")
    base = spread(df).select(F.col(id_col).alias("_id"), words.alias("_w"))
    arr = F.when(
        F.size("_w") == 0, F.expr("CAST(array() AS array<string>)")
    ).otherwise(
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("_w") / F.lit(line_words)).cast("int") - 1,
            ),
            lambda i: F.concat_ws(
                " ", F.slice("_w", i * line_words + 1, line_words)
            ),
        )
    )
    ln = base.select("_id", F.posexplode(arr).alias("_idx", "_line"))
    w = Window.partitionBy(F.md5("_line")).orderBy("_id", "_idx")
    kept = ln.withColumn("_keep", F.row_number().over(w) == 1)
    per_doc = kept.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN _keep THEN struct(_idx, _line) END)), x -> x._line), ' ')"
        ).alias("text_kept"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT Jaccard pairs >= ``threshold`` via PREFIX FILTERING (the
    All-Pairs / PPJoin candidate bound — Chaudhuri et al. ICDE'06, Bayardo
    et al. WWW'07): under any global total order on shingles, two sets
    with J >= t MUST share an element among each set's first
    |S| - ceil(t·|S|) + 1 shingles. Only those prefixes enter the
    inverted-index self-join, so candidate volume shrinks by ~(1-t)² and
    — with the order chosen as (document frequency asc, shingle asc) —
    hot boilerplate shingles land OUTSIDE every prefix, killing the join
    skew that ``max_doc_freq`` merely caps (and unlike the cap, the
    filter is LOSSLESS: the output provably equals the full inverted
    index's).

    Verification is per-candidate set intersection on collected shingle
    arrays: per-DOC arrays are bounded by document length (never
    corpus-sized), so the verify stage is O(|A|+|B|) per candidate with
    no further shuffle of the index. Returns (id_a, id_b, jaccard).
    """
    from pyspark.sql import Window

    sh = shingle_rows(df, id_col, text_col, n, distinct=True)
    if max_doc_freq is not None:
        # optional belt-and-braces cap (routes through capped_index like
        # every other pair operator). The prefix filter already keeps hot
        # shingles out of the INDEX by construction; a cap additionally
        # removes them from the verify sets — at which point the output is
        # Jaccard over the CAPPED shingle universe, no longer lossless
        # against the uncapped definition. Default None preserves the
        # lossless guarantee.
        sh = capped_index(sh, "_sh", max_doc_freq)
    sh = sh.localCheckpoint(eager=False)
    dfreq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    # verify arrays carry 60-bit hashes, not shingle strings: the
    # per-candidate intersection is exact up to in-pair collisions at
    # ~|doc|²/2^60 (≈1e-16 — doc-bounded, scale-independent), and the
    # candidate join ships 8-byte elements instead of ~25-byte strings
    sh_h = F.conv(F.substring(F.md5("_sh"), 1, 15), 16, 10).cast("long")
    # NOT checkpointed: both verify-join sides alias this same subplan and
    # its exchange hash-partitions on _id either way, so ReuseExchange
    # serves the second side from the first side's shuffle
    sets = sh.groupBy("_id").agg(
        F.sort_array(F.collect_list(sh_h)).alias("_set"),
        F.count(F.lit(1)).alias("_n"),
    )
    # global canonical order (df asc, shingle asc); the per-doc rank is a
    # doc-partitioned window — bounded by doc length. The set size rides
    # the SAME window partitioning (count over the doc partition), so the
    # prefix cut costs one shuffle past the df join, not two.
    wdoc = Window.partitionBy("_id")
    ranked = (
        sh.join(dfreq, "_sh")
        .withColumn("_rk", F.row_number().over(wdoc.orderBy("_df", "_sh")))
        .withColumn("_n", F.count(F.lit(1)).over(wdoc))
    )
    # NOT checkpointed: the candidate self-join aliases one subplan; the
    # second side rides ReusedExchange (same shape as ngram_jaccard_pairs)
    # rounding-safe ceil: for t not exactly representable in binary (0.7,
    # 0.1, ...) the float product can land just ABOVE the true integer
    # (0.7*10 = 7.000000000000001), inflating ceil by 1 and shortening the
    # prefix — which would silently break losslessness for that (t, n).
    # Nudging down by 1e-9 (far below any t*n quantum at doc-set sizes)
    # only ever LENGTHENS the prefix, which is always safe.
    pref = ranked.filter(
        F.col("_rk")
        <= F.col("_n")
        - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
        + 1
    ).select("_id", "_sh")
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), F.col("a._sh") == F.col("b._sh"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sets.select(
        F.col("_id").alias("id_a"), F.col("_set").alias("_sa"), F.col("_n").alias("_na")
    )
    b = sets.select(
        F.col("_id").alias("id_b"), F.col("_set").alias("_sb"), F.col("_n").alias("_nb")
    )
    common = F.size(F.array_intersect("_sa", "_sb"))
    jac = common / (F.col("_na") + F.col("_nb") - common)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
