"""The engine session: its effective settings, and what lives as long as it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

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


def test_query_caches_end_with_their_session(tmp_path, sf_dir):
    """``plans.queries.load`` keeps its tables and relations per session:
    once a session is stopped and dropped, nothing of it is reachable, and
    the next session builds its own. Runs in its own process because it
    stops its session."""
    relations = tmp_path / "tables"  # not an sf0.0x name: the relation path
    relations.symlink_to(sf_dir)
    script = f"""
import gc, json, weakref
from etl_jetro_spark.plans import queries as Q
from etl_jetro_spark.session import get_spark
spark = get_spark(app_name="query-cache-lifetime", shuffle_partitions=2)
old = [weakref.ref(Q.load(spark, d, "region")) for d in ({sf_dir!r}, {str(relations)!r})]
spark.stop()
del spark
spark = get_spark(app_name="query-cache-lifetime", shuffle_partitions=2)
rows = Q.load(spark, {sf_dir!r}, "region").count()
gc.collect()
print(json.dumps({{"alive": [r() is not None for r in old], "rows": rows}}))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=repo), timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got == {"alive": [False, False], "rows": 5}


def test_catalog_queries_leave_no_views(spark, sf_dir):
    """q98–q100 bind their tables for one statement only: running them
    leaves the session catalog as it was, with no view named after a table."""
    from etl_jetro_spark.plans.queries import QUERIES

    before = spark.catalog.listTables()
    for name in ("q98_small_qty_revenue", "q99_hierarchy_rollup", "q100_waiting_suppliers"):
        QUERIES[name](spark, sf_dir).collect()
    after = spark.catalog.listTables()
    assert after == before
    assert not {"lineitem", "part", "supplier"} & {t.name for t in after}
