"""Canonical order-sheet sinks (SURVEY §2.9 K1).

K1 writes the canonical 13-col table to an Excel workbook with sheets
``Scripting`` + empty ``ANOMALY``/``STORE CLUSTER`` and an m/d/yyyy date
format (reference 247/tools/allocation_tool.py:168-207, dup ×5). The
reference's K2, the Flips baby 6-sheet audit workbook
(baby_flip_tool.py:384-512), is not built: nothing receives it.

The canonical table is small by construction (stores × items), so a run
executes its plan once: :func:`collect_ordered` collects it as one Arrow
table and orders it on the driver, and every artifact is written from that
table — the Parquet directory (pyarrow), the workbook (the engine's native
OOXML writer, ``sources/xlsx.py``, no optional dependencies, which renders
the sheet from the table's columns) and the keystroke macros
(``sinks/macro.py``). The Flips baby table and the DLPM
price table are ordered the same way, by their own keys.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame

from etl_jetro_spark.sources.xlsx import sheet_xml, write_xlsx

AUX_SHEETS = ("ANOMALY", "STORE CLUSTER")
CANONICAL_ORDER = ("Branch", "Item", "Distro Size")


def collect_arrow(df: DataFrame) -> pa.Table:
    """One execution of ``df`` as an Arrow table. The schema, nullability
    included, is the one Spark's Parquet writer declares: the optimized
    plan's, where constant columns are NOT NULL."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    table = df.toArrow()
    plan_schema = df._jdf.queryExecution().optimizedPlan().schema().json()
    return table.cast(to_arrow_schema(StructType.fromJson(json.loads(plan_schema))))


def collect_ordered(df: DataFrame, *by: str | Column) -> pa.Table:
    """``df`` executed once and ordered on the driver by ``by``, ascending
    with NULLs first (Spark's ascending default). A Column key is computed
    in the same plan as a temporary column and dropped after the sort."""
    names = [b if isinstance(b, str) else f"__order_{i}" for i, b in enumerate(by)]
    keys = {n: b for n, b in zip(names, by) if isinstance(b, Column)}
    table = collect_arrow(df.withColumns(keys) if keys else df)
    return table.sort_by(
        [(n, "ascending") for n in names], null_placement="at_start"
    ).drop_columns(list(keys))


def write_parquet_dir(table: pa.Table, path: str) -> None:
    """Replace ``path`` with a Parquet directory holding ``table`` as one
    part file — the layout of Spark's writer, readable by either engine."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_canonical(table: pa.Table, out_dir: str, name: str = "order_sheet") -> dict:
    """K1: Parquet + the reference's workbook — sheet ``Scripting`` plus
    empty ``ANOMALY``/``STORE CLUSTER`` (247/tools/allocation_tool.py:168-207).

    ``table`` is the collected, ordered canonical table
    (:func:`collect_ordered`); both files are written from it with no
    Spark job, the sheet column-wise (``sources.xlsx.sheet_xml``; dates
    as m/d/yyyy text, the reference's K1 cell format). Returns a manifest
    {parquet: path, xlsx: path, rows: n}.
    """
    pq_path = os.path.join(out_dir, f"{name}.parquet")
    write_parquet_dir(table, pq_path)
    xlsx_path = os.path.join(out_dir, f"{name}.xlsx")
    empty = sheet_xml(pa.table({}))
    write_xlsx(xlsx_path, {"Scripting": sheet_xml(table), **dict.fromkeys(AUX_SHEETS, empty)})
    return {"parquet": pq_path, "xlsx": xlsx_path, "rows": table.num_rows}
