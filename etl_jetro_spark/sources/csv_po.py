"""PO-drop CSV source (SURVEY §2.1 S3).

The reference picks the most-recent ``.csv`` by mtime, reads one PO per
line with an encoding-fallback chain, keeps NA-like-free lines containing a
dash, and splits ``Store-Item`` on the first dash of any unicode width
(reference 247/tools/read_file_tool.py:123-196, duplicated ×6).

Spark shape: the *latest-file* choice is control-plane (driver glob +
argmax mtime — tiny); the line parsing is a distributed ``spark.read.text``
→ filter → split plan, so a 100 GB PO dump would stream through unchanged.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from etl_jetro_spark.functions.na import is_na_like_sql
from etl_jetro_spark.functions.text import DASH_CLASS, split_first_dash_sql
from etl_jetro_spark.sqltext import ident, string_lit

_BOM = string_lit("^\ufeff")


def latest_csv(folder: str) -> str | None:
    """Most recently modified .csv in the folder (A5 argmax-by-mtime)."""
    files = glob.glob(os.path.join(folder, "*.csv"))
    return max(files, key=os.path.getmtime) if files else None


def _sniff_encoding(path: str) -> str | None:
    """Reference encoding-fallback chain (utf-8-sig → utf-16 → latin1,
    247/tools/read_file_tool.py:157-167): detect UTF-16 by BOM so the
    distributed text read stays UTF-8; UTF-16 files are transcoded (they
    are KB-sized control-plane drops)."""
    with open(path, "rb") as fh:
        head = fh.read(4)
    if head.startswith(b"\xff\xfe") or head.startswith(b"\xfe\xff"):
        return "utf-16"
    return None


def read_po_lines(spark: SparkSession, path: str) -> DataFrame:
    """Parse a PO-per-line file into [PO #, Store, Item].

    UTF-8 (with or without BOM) reads distributed; UTF-16 (BOM-detected)
    is transcoded driver-side first — these are tiny control files. Other
    bytes decode with replacement (the reference's ignore-errors last
    resort). Lines that are NA-like or dash-free are dropped (P9). The
    projections and the filter are SQL text.
    """
    if _sniff_encoding(path) == "utf-16":
        text = open(path, "rb").read().decode("utf-16")
        lines = spark.createDataFrame(
            [(ln,) for ln in text.splitlines()], "value string"
        )
    else:
        lines = spark.read.text(path)
    po = ident("po")
    parts = split_first_dash_sql(po)
    return (
        lines.selectExpr(f"trim(regexp_replace({ident('value')}, {_BOM}, '')) AS {po}")
        .filter(f"NOT {is_na_like_sql(po)} AND {po} RLIKE {string_lit(DASH_CLASS)}")
        .selectExpr(
            f"{po} AS {ident('PO #')}",
            f"trim({parts}[0]) AS {ident('Store')}",
            f"trim({parts}[1]) AS {ident('Item')}",
        )
    )


def read_latest_po_csv(spark: SparkSession, folder: str) -> DataFrame:
    path = latest_csv(folder)
    if path is None:
        raise FileNotFoundError(f"no .csv files in {folder}")
    return read_po_lines(spark, path)
