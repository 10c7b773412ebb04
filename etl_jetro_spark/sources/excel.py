"""Sheet-grid sources (SURVEY §2.1 S1/S2).

A *grid* is the engine's raw-sheet abstraction: a headerless pandas DataFrame
of positional columns (0..N), exactly what ``read_excel(header=None)`` gives
— order is meaningful until the normalize layer promotes headers and the data
goes relational.

A drop file is read by its extension: a ``.csv`` as text cells, a
``.xlsx``/``.xlsm`` workbook through the engine's own OOXML codec
(``sources/xlsx.py`` — zip + sheet XML, a public format), so a workbook
reads to the same grid whatever packages are installed: lock-file skip,
hidden/veryHidden sheet skip, active-visible selection and named-sheet
reads all behave like the reference. A legacy ``.xls`` is listed too, so
it fails with the codec's explicit error rather than being passed over.
A run reads one or two sheets of a few KB on the driver; the relational
work starts when ``pipelines.batch`` hands the cleaned grid to Spark.

Reference cites: 247/tools/read_file_tool.py:13-121 (pair scan, keyword
pick, lock-file skip), ACME/tools/read_file_tool.py:12-52 (single scan +
filename token).
"""

from __future__ import annotations

import os
import re

import pandas as pd

from etl_jetro_spark.sources.xlsx import read_xlsx_grid

SHEET_EXTS = (".csv", ".xlsx", ".xlsm", ".xls")


def clean_file_token(stem: str) -> str:
    """Lowercase, collapse spaces — the filename becomes a pipeline
    parameter (dock filter / carrier choice)."""
    return re.sub(r"\s+", " ", stem.strip().lower())


def list_sheet_files(folder: str) -> list[str]:
    """Sheet files in a folder (``SHEET_EXTS``), sorted, skipping ``~$``
    lock files."""
    return sorted(
        os.path.join(folder, f)
        for f in os.listdir(folder)
        if f.lower().endswith(SHEET_EXTS) and not f.startswith("~$")
    )


def grid_from_csv(path: str) -> pd.DataFrame:
    """CSV as a raw positional grid (header row is data, like the sheets)."""
    return pd.read_csv(path, header=None, dtype=object, keep_default_na=False)


def read_grid(path: str, sheet: str | None = None) -> pd.DataFrame:
    """A drop file's raw grid, by its extension: CSV text cells, or the
    workbook's ``sheet`` (active-visible sheet when None; error when the
    named sheet is absent — reference 247/tools/read_file_tool.py:83-101,
    SouthernCross read_file_tool.py:55-60). A CSV is one table, so
    ``sheet`` does not apply to it."""
    if path.lower().endswith(".csv"):
        return grid_from_csv(path)
    return read_xlsx_grid(path, sheet=sheet)


def read_allocation_pricesheet(folder: str) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
    """S1: pick ≤2 sheet files by filename keyword ('allocation'/'price');
    returns (allocation_grid, price_grid), either possibly None."""
    alloc = price = None
    files = list_sheet_files(folder)
    if len(files) > 2:
        raise ValueError(f"expected at most 2 sheet files in {folder}, found {len(files)}")
    for path in files:
        token = clean_file_token(os.path.splitext(os.path.basename(path))[0])
        if "allocation" in token:
            alloc = read_grid(path)
        elif "price" in token:
            price = read_grid(path)
    return alloc, price


def read_single_with_token(
    folder: str, sheet: str | None = None
) -> tuple[pd.DataFrame, str]:
    """S2: exactly one sheet file; returns (grid, cleaned filename token).

    ``sheet`` names the worksheet a workbook is read from — SouthernCross
    reads the fixed tab ``'IBT FORMAT'`` and errors when absent
    (reference SouthernCross/tools/read_file_tool.py:12,53-61).
    """
    files = list_sheet_files(folder)
    if len(files) != 1:
        raise ValueError(f"expected exactly 1 sheet file in {folder}, found {len(files)}")
    token = clean_file_token(os.path.splitext(os.path.basename(files[0]))[0])
    return read_grid(files[0], sheet), token
