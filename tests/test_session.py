"""The engine session's effective settings."""

from __future__ import annotations

# Settings ``get_spark`` leaves to Spark's defaults; a Spark upgrade that
# changes one of these defaults fails here instead of changing the engine.
SPARK_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def test_default_settings_are_effective(spark):
    """Read on a new session of the test session's context: it starts from
    the built configuration, not from runtime changes other tests made
    (``plans.queries.load`` turns AQE off at small scale factors)."""
    fresh = spark.newSession()
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    got = {k: fresh.conf.get(k) for k in SPARK_DEFAULTS}
    key = "spark.sql.files.maxPartitionBytes"
    got[key] = str(to_bytes(got[key]))
    assert got == SPARK_DEFAULTS
