"""Tests for snapshot reconciliation (table diff)."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_jetro_spark.operators.reconcile import (
    diff_summary,
    table_diff,
)


def test_table_diff_classifies_all_statuses(spark):
    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", None), (4, "w", 4.0)],
        "k INT, s STRING, v DOUBLE",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 9.0), (3, "z", 3.0), (5, "new", 5.0)],
        "k INT, s STRING, v DOUBLE",
    )
    got = {r.k: r.diff_status for r in table_diff(a, b, ["k"]).collect()}
    # 3: null→3.0 must be a CHANGE (null-safe compare), 4 removed, 5 added
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",
        4: "removed",
        5: "added",
    }


def test_table_diff_hash_compare_matches_exact(spark):
    a = spark.createDataFrame([(i, f"s{i}", float(i)) for i in range(100)],
                              "k INT, s STRING, v DOUBLE")
    b = a.withColumn("v", F.when(F.col("k") % 7 == 0, F.col("v") + 1)
                     .otherwise(F.col("v"))).filter(F.col("k") % 13 != 0)
    exact = {r.diff_status: r.n for r in
             diff_summary(a, b, ["k"]).collect()}
    hashed = {r.diff_status: r.n for r in
              diff_summary(a, b, ["k"], hash_compare=True).collect()}
    assert exact == hashed
    assert exact["removed"] == 8 and "added" not in exact


def test_table_diff_compare_cols_subset(spark):
    a = spark.createDataFrame([(1, "x", 1.0)], "k INT, s STRING, v DOUBLE")
    b = spark.createDataFrame([(1, "x", 99.0)], "k INT, s STRING, v DOUBLE")
    got = table_diff(a, b, ["k"], compare_cols=["s"]).collect()
    assert got[0].diff_status == "unchanged"  # v excluded from comparison

