"""Physical-plan tests for the scale-out join and scan paths: partition
pruning, shuffle reuse in the shingle self-join, AQE skew splitting in a
fact-fact sort-merge join, and runtime bloom-filter injection."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Hive-partitioned fact layout: a filter on the partition column
    reaches the scan as a PartitionFilter, so only matching directories
    are read."""
    from etl_jetro_spark.plans.queries import load_events

    e = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    out = str(tmp_path / "events_by_type")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)

    back = spark.read.parquet(out)
    one = back.filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "click" in plan
    # pruned scan reads exactly the partition's rows
    want = e.filter(F.col("event_type") == "click").count()
    assert one.count() == want
    # and the non-partition columns are untouched by the layout
    assert set(back.columns) == {"event_id", "ts", "user_id", "event_type"}


def test_ngram_selfjoin_reuses_shuffle_at_smj_scale(spark):
    """The shingle-index self-join aliases ONE subtree on both sides, so
    at SMJ scale (no broadcast conversion) Spark serves the second side
    from the first side's shuffle via ReusedExchange — the index is
    exchanged once, not twice. Forced here by disabling the broadcast
    threshold; at sf0.01 the join would otherwise convert to broadcast."""
    from etl_jetro_spark.operators.dedup import ngram_jaccard_pairs

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # reuse happens at AQE runtime; a prior small-SF load() in this shared
    # session may have turned AQE off — pin it on for this test
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df = spark.createDataFrame(
            [(i, f"alpha beta gamma doc{i} tail{i} end{i}") for i in range(20)],
            ["doc_id", "text"],
        )
        pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01)
        pairs.collect()  # AQE applies exchange reuse at runtime
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("ReusedExchange") >= 2  # self-join side + sizes alias
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_aqe_skew_join_splits_hot_partition(spark):
    """SCALE.md claims fact-fact joins run as SMJ with AQE splitting
    skewed partitions — proved here on the plan: one hot key carries
    ~90% of the left side, and the EXECUTED final adaptive plan must mark
    the join skew=true (the hot partition was split across tasks instead
    of landing on one)."""
    confs = {
        "spark.sql.adaptive.enabled": "true",  # a prior small-SF load() turns it off
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("a"),
            F.lit("x" * 40).alias("pad"),
        )
        right = spark.range(0, 2000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("b")
        )
        agg = left.join(right, "k").groupBy().agg(
            F.sum(F.col("a") + F.col("b")).alias("s")
        )
        agg.collect()  # skew handling happens at runtime (AQE)
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_injected_for_selective_join(spark):
    """Spark injects a runtime bloom filter on the fact side of a
    selective fact-dim join (the shuffle-reduction path when broadcast
    does not apply): with thresholds lowered, the
    optimized plan must contain bloom_filter_agg + might_contain."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            spark.range(0, 200_000).selectExpr(
                "id % 1000 AS k", "id AS a"
            ).write.mode("overwrite").parquet(td + "/fact")
            spark.range(0, 1000).selectExpr(
                "id AS k", "id * 2 AS b"
            ).write.mode("overwrite").parquet(td + "/dim")
            fact = spark.read.parquet(td + "/fact")
            dim = spark.read.parquet(td + "/dim").filter(F.col("k") < 5)
            j = fact.join(dim, "k")
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan and "might_contain" in plan
            # and the result is exact (bloom only pre-filters)
            assert j.count() == 5 * 200
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
