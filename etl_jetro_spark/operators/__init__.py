"""Relational + training-data operators (SURVEY §2.2–§2.7 and beyond)."""

from etl_jetro_spark.operators.aggregate import (  # noqa: F401
    first_per_group,
    latest_by,
    merge_partials,
    partial_sums,
    sum_by,
)
from etl_jetro_spark.operators.canonical import (  # noqa: F401
    CANONICAL_COLS,
    PIPELINES,
    PipelineConfig,
    branch_fix,
    to_canonical,
)
from etl_jetro_spark.operators.dedup import (  # noqa: F401
    decontaminate,
    exact_dedup,
    exact_dup_groups,
    incremental_dedup,
    keep_best_by,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
    top_ngrams,
)
from etl_jetro_spark.operators.joins import (  # noqa: F401
    anti_join,
    broadcast_lookup,
    map_join,
    semi_join,
)
from etl_jetro_spark.operators.graph import (  # noqa: F401
    connected_components,
    dedup_keep_canonical,
)
from etl_jetro_spark.operators.similarity import (  # noqa: F401
    ann_quality,
    cosine,
    cosine_topk,
    embedding_near_dup,
    knn_join,
    lsh_bucket_histogram,
    lsh_bucket_knn,
    lsh_candidates,
    quantize_int8,
)
from etl_jetro_spark.operators.sort import (  # noqa: F401
    lot_last4_key,
    nth_occurrence,
    numeric_first_key,
    numeric_first_order,
    sort_numeric_first,
)
from etl_jetro_spark.operators.sampling import (  # noqa: F401
    hash_bucket,
    hash_sample,
    split_assign,
    stratified_sample,
    weighted_hash_sample,
)
from etl_jetro_spark.operators.chunking import (  # noqa: F401
    chunk_tokens,
    pack_offsets,
)
from etl_jetro_spark.operators.pii import (  # noqa: F401
    pii_counts,
    pii_scan,
    redact_pii,
)
from etl_jetro_spark.operators.textstats import (  # noqa: F401
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    ngram_repetition,
    quality_features,
    quality_score,
    stopword_hits,
    tfidf_top_terms,
    token_count,
    unigram_lm_scores,
    vocab_doc_freq,
)
from etl_jetro_spark.operators.dedup import (  # noqa: F401
    shingle_rows,
    simhash_fingerprints,
)
from etl_jetro_spark.operators.layout import (  # noqa: F401
    morton_key,
    morton_sql,
    zorder_repartition,
)
from etl_jetro_spark.operators.rangejoin import (  # noqa: F401
    interval_overlap_join,
    range_join,
)
from etl_jetro_spark.operators.retrieval import (  # noqa: F401
    probe_channel_scores,
    rank_channel,
    rrf,
)
from etl_jetro_spark.operators.evalstats import (  # noqa: F401
    bh_holm,
    brier_decomposition,
    cochran_q,
    conformal_upper,
    friedman,
    mcnemar,
    pair_moments,
    quantized_prefix,
    two_sided_p,
)
from etl_jetro_spark.operators.corpusstats import (  # noqa: F401
    ols_fit,
    plogq_sum,
    sql_ols_select,
    word_rows,
)
from etl_jetro_spark.operators.timeseries import (  # noqa: F401
    cohort_retention,
    funnel,
    funnel_df,
    gap_fill_linear,
    gap_fill_locf,
    time_bucket,
    time_spine,
    value_histogram,
)
from etl_jetro_spark.operators.cdc import (  # noqa: F401
    apply_changelog,
    scd2_from_log,
)
from etl_jetro_spark.operators.reconcile import (  # noqa: F401
    diff_summary,
    schema_diff,
    table_diff,
)
from etl_jetro_spark.operators.profile import (  # noqa: F401
    RowRule,
    check_foreign_key,
    check_rows,
    check_unique,
    profile_table,
    run_checks,
)
from etl_jetro_spark.operators.skew import (  # noqa: F401
    salted_broadcast_join,
    salted_sum_by,
)
from etl_jetro_spark.operators.unpivot import melt, melt_between  # noqa: F401
from etl_jetro_spark.operators.util import spread  # noqa: F401
