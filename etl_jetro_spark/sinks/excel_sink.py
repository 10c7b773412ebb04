"""Canonical order-sheet sinks (SURVEY §2.9 K1/K2).

K1 writes the canonical 13-col table to an Excel workbook with sheets
``Scripting`` + empty ``ANOMALY``/``STORE CLUSTER`` and an m/d/yyyy date
format (reference 247/tools/allocation_tool.py:168-207, dup ×5); K2 is the
6-sheet audit workbook (baby_flip_tool.py:384-512).

The canonical table is small by construction (stores × items), so a run
executes its plan once: :func:`collect_canonical` collects it as one Arrow
table and orders it on the driver, and every artifact is written from that
table — the Parquet directory (pyarrow), the workbook (the engine's native
OOXML writer, ``sources/xlsx.py``, no optional dependencies) and the
keystroke macros (``sinks/macro.py``).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from etl_jetro_spark.sources.xlsx import write_xlsx

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


def collect_canonical(df: DataFrame) -> pa.Table:
    """The canonical table, executed once and ordered on the driver by
    Branch, Item, Distro Size (NULLs first, as Spark's ascending sort)."""
    return collect_arrow(df).sort_by(
        [(c, "ascending") for c in CANONICAL_ORDER], null_placement="at_start"
    )


def write_parquet_dir(table: pa.Table, path: str) -> None:
    """Replace ``path`` with a Parquet directory holding ``table`` as one
    part file — the layout of Spark's writer, readable by either engine."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _sheet_rows(columns: list[str], rows) -> list[list[object]]:
    """Header + data rows for the workbook render: dates formatted
    m/d/yyyy (the reference's K1 cell format), NaN→blank."""
    out = [list(columns)]
    for r in rows:
        out.append([
            f"{v.month}/{v.day}/{v.year}"
            if isinstance(v, (datetime.date, datetime.datetime)) else v
            for v in r
        ])
    return out


def write_canonical(table: pa.Table, out_dir: str, name: str = "order_sheet") -> dict:
    """K1: Parquet + the reference's workbook — sheet ``Scripting`` plus
    empty ``ANOMALY``/``STORE CLUSTER`` (247/tools/allocation_tool.py:168-207).

    ``table`` is the collected, ordered canonical table
    (:func:`collect_canonical`); both files are written from it with no
    Spark job. Returns a manifest {parquet: path, xlsx: path, rows: n}.
    """
    pq_path = os.path.join(out_dir, f"{name}.parquet")
    write_parquet_dir(table, pq_path)
    xlsx_path = os.path.join(out_dir, f"{name}.xlsx")
    rows = zip(*(col.to_pylist() for col in table.columns))
    sheets = {"Scripting": _sheet_rows(table.column_names, rows)}
    for s in AUX_SHEETS:
        sheets[s] = []
    write_xlsx(xlsx_path, sheets)
    return {"parquet": pq_path, "xlsx": xlsx_path, "rows": table.num_rows}


def write_audit_workbook(sheets: dict[str, DataFrame], out_path: str) -> dict:
    """K2: multi-sheet audit workbook from a name→DataFrame manifest
    (baby_flip_tool.py:384-512; sheet names capped at Excel's 31 chars)."""
    write_xlsx(
        out_path,
        {name[:31]: _sheet_rows(df.columns, df.collect()) for name, df in sheets.items()},
    )
    return {"xlsx": out_path, "sheets": list(sheets)}
