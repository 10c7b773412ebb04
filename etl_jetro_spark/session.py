"""SparkSession factory.

Only settings that differ from Spark's defaults are set; adaptive query
execution, scan sizing and the Arrow batch size keep Spark's defaults
(``tests/test_session.py`` pins their effective values). Each setting:

- ``spark.sql.shuffle.partitions`` follows the local core count
  (``SPARK_GRAFT_CPUS``) instead of Spark's 200: the tables are small, and
  AQE coalesces what is left.
- ``spark.sql.autoBroadcastJoinThreshold`` 64 MiB: dims in this engine are
  KB–MB, so Spark may broadcast them.
- Arrow enabled so ``toPandas``/``createDataFrame`` and the Pandas-UDF
  paths batch-transfer instead of pickling rows.
- Session timezone pinned to America/Chicago, matching the reference's
  business clock (reference: sheet_bot/utils.py:16-27, big_flip_tool.py:247).
- ``nanosAsLong`` reads TIMESTAMP(NANOS) parquet columns, see below.
- UI and console progress bars off; driver heap sized from RAM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference business runs on Chicago time (reference sheet_bot/utils.py:16).
SESSION_TZ = "America/Chicago"


def _default_driver_mem() -> str:
    """Driver-heap default, derived from physical RAM (ADVICE r8: a flat
    32g default can fail JVM startup on hosts with <32 GB).

    Single-JVM local mode shares the driver heap across all local[N] task
    threads, so sf1 rehearsals need ~1 GB/core (round-8: 8g/32 threads =
    0.25 GB/core OOM'd q225's hop join). Policy: a quarter of physical
    RAM, clamped to [4g, 32g] — 32g on the 128 GiB bench host, 8g on a
    32 GiB laptop, 4g floor elsewhere. ``SPARK_DRIVER_MEM`` overrides.
    """
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1024**3)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(32, int(total_gb // 4)))}g"


def get_spark(
    app_name: str = "etl-jetro-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes nothing and spark-submit supplies the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # dims in this engine are KB–MB; let Spark broadcast aggressively
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary: always Arrow ----------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism ----------------------------------------------
        .config("spark.sql.session.timeZone", SESSION_TZ)
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long ns and convert explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: keep the UI off and the driver quiet; progress bars
        # would interleave with stdout and corrupt one-line JSON artifacts
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Single-JVM local mode: the driver heap IS the executor heap,
        # shared by all local[N] task threads (see _default_driver_mem).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
