"""Control-plane sheet source (SURVEY §2.1 S6, §2.7 D4).

The orchestrator's Google Sheet is a 2-D string grid holding N logical
sections, each starting at a row containing ``Note``; the section header
row carries marker columns (``Vendor #``, ``Status``) and integer-named
store columns, possibly compound (``452/490``). Rows become records with a
``stores`` map (reference sheet_bot/sheets.py:38-178, main.py:76-84).

The fetch itself is an API call (gspread — not installed here); this module
takes the raw grid as ``list[list[str]]`` and returns plain ``VendorRow``
records, which the control tick consumes directly. The sheet is also a
*sink* (status write-back); see streaming/ for the transition side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from etl_jetro_spark.functions.text import strip_dot_zero_text


def to_a1(row: int, col: int) -> str:
    """0-based (row, col) → A1 notation (reference sheet_bot/utils.py:54-65)."""
    letters = ""
    c = col + 1
    while c:
        c, rem = divmod(c - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return f"{letters}{row + 1}"


@dataclass
class VendorRow:
    section: int
    sheet_row: int
    vendor_num: str
    vendor_name: str
    status: str
    status_a1: str
    stores: dict[str, str] = field(default_factory=dict)


def find_sections(grid: list[list[str]]) -> list[int]:
    """Row indices where a section header ('Note' cell) appears."""
    return [
        i
        for i, row in enumerate(grid)
        if any(str(c).strip().lower() == "note" for c in row)
    ]


def discover_schema(header: list[str]) -> dict[str, object]:
    """Marker-column discovery on a section header row: positions of
    Vendor #/Vendor Name/Status plus the store columns (integer-named,
    compound '452/490' allowed; 'PO count' ignored)."""
    pos: dict[str, object] = {"stores": {}}
    for j, cell in enumerate(header):
        name = str(cell).strip()
        low = name.lower()
        if low == "vendor #":
            pos["vendor_num"] = j
        elif low == "vendor name":
            pos["vendor_name"] = j
        elif low == "status":
            pos["status"] = j
        elif low in ("note", "po count", ""):
            continue
        elif re.fullmatch(r"\d+(\.0)?(\s*/\s*\d+(\.0)?)*", name):
            pos["stores"][j] = [strip_dot_zero_text(t) for t in re.split(r"\s*/\s*", name)]
    return pos


def parse_sections(grid: list[list[str]]) -> list[VendorRow]:
    """One physical grid → flat vendor records across all sections (D4
    union). Blank vendor numbers are skipped; 'x' store cells mean
    not-expected; '14.0'-style POs are normalized."""
    out: list[VendorRow] = []
    starts = find_sections(grid)
    for sec_idx, start in enumerate(starts):
        end = starts[sec_idx + 1] if sec_idx + 1 < len(starts) else len(grid)
        schema = discover_schema([str(c) for c in grid[start]])
        if "vendor_num" not in schema or "status" not in schema:
            continue
        for r in range(start + 1, end):
            row = [str(c) for c in grid[r]]

            def cell(j: int | None) -> str:
                return row[j].strip() if j is not None and j < len(row) else ""

            vendor = strip_dot_zero_text(cell(schema.get("vendor_num")))
            if not vendor:
                continue
            stores: dict[str, str] = {}
            for j, store_keys in schema["stores"].items():
                v = strip_dot_zero_text(cell(j))
                if v and v.lower() != "x":
                    for sk in store_keys:
                        stores[sk] = v
            out.append(
                VendorRow(
                    section=sec_idx,
                    sheet_row=r,
                    vendor_num=vendor,
                    vendor_name=cell(schema.get("vendor_name")),
                    status=cell(schema.get("status")),
                    status_a1=to_a1(r, schema["status"]),
                    stores=stores,
                )
            )
    return out
