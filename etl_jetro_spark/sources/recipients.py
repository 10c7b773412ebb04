"""Vendor→recipients dimension (SURVEY §2.1 S5).

The reference reads a vendor-email workbook: col 0 = vendor number (some
with trailing ``.0``), columns 2+ = free text holding 0..k emails; addresses
are regex-extracted, validated, and case-insensitively deduped keeping the
first-seen casing (reference sheet_bot/import_vendor_email.py:37-80).

Input here is the raw grid (header row = data), so it works from CSV or an
xlsx once openpyxl exists; output is a broadcastable dimension DataFrame
``(vendor_num, to_emails array<string>)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jetro_spark.functions.text import extract_emails, strip_dot_zero


def recipients_dim(spark: SparkSession, grid: pd.DataFrame) -> DataFrame:
    """Grid → (vendor_num, to_emails). All extraction happens JVM-side on
    the concatenated free-text columns."""
    if grid.shape[1] < 3:
        raise ValueError("recipients grid needs >=3 columns (vendor, name, emails...)")
    rows = [
        (
            str(r[0]) if r[0] is not None else "",
            " ; ".join(str(c) for c in list(r)[2:] if c is not None),
        )
        for r in grid.itertuples(index=False)
    ]
    df = spark.createDataFrame(rows, "vendor_raw string, email_text string")
    return (
        df.select(F.trim("vendor_raw").alias("vendor_raw"), "email_text")
        .select(
            strip_dot_zero("vendor_raw").alias("vendor_num"),
            extract_emails("email_text").alias("to_emails"),
        )
        .filter((F.col("vendor_num") != "") & (F.size("to_emails") > 0))
        .dropDuplicates(["vendor_num"])
    )
