"""Carrier-map JSON dimension source (SURVEY §2.1 S4).

``{store: carrier_code}`` JSON files keyed by a filename token
(salmon/northern/southern) → a 2-col string dimension table, broadcast-
joined downstream (reference Flips/tools/read_file_tool.py:129-180).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_jetro_spark.sqltext import ident

CARRIER_TOKENS = ("salmon", "northern", "southern")


def pick_carrier_file(file_token: str, base_dir: str) -> str:
    """Choose the carrier JSON whose token appears in the input filename."""
    for tok in CARRIER_TOKENS:
        if tok in file_token:
            path = os.path.join(base_dir, f"{tok}_carrier.json")
            if not os.path.exists(path):
                raise FileNotFoundError(path)
            return path
    raise ValueError(
        f"file token {file_token!r} names no carrier ({'/'.join(CARRIER_TOKENS)})"
    )


def read_carrier_json(
    spark: SparkSession, file_token: str, base_dir: str
) -> DataFrame:
    """Dimension table (Store string, carrier_code string) from the JSON
    dict — parsed as a MapType and exploded, all JVM-side."""
    path = pick_carrier_file(file_token, base_dir)
    raw = spark.read.text(path, wholetext=True)
    return raw.selectExpr(
        f"explode(from_json({ident('value')}, 'map<string,string>')) AS ({ident('Store')}, {ident('carrier_code')})"
    )
