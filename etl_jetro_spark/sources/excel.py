"""Sheet-grid sources (SURVEY §2.1 S1/S2).

A *grid* is the engine's raw-sheet abstraction: a headerless pandas DataFrame
of positional columns (0..N), exactly what ``read_excel(header=None)`` gives
— order is meaningful until the normalize layer promotes headers and the data
goes relational.

Excel parsing always uses the engine's own OOXML codec (``sources/xlsx.py``
— zip + sheet XML, a public format), so a workbook reads to the same grid
whatever packages are installed: lock-file skip, hidden/veryHidden sheet
skip, active-visible selection and named-sheet reads all behave like the
reference. A run reads one or two sheets of a few KB on the driver; the
relational work starts when ``pipelines.batch`` hands the cleaned grid to
Spark.

Reference cites: 247/tools/read_file_tool.py:13-121 (pair scan, keyword
pick, lock-file skip), ACME/tools/read_file_tool.py:12-52 (single scan +
filename token).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

import pandas as pd

from etl_jetro_spark.sources.xlsx import read_xlsx_grid

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
