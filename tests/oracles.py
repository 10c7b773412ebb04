"""Row-at-a-time renderers: the oracles of the column-wise sinks.

The package renders the order sheet (``sources.xlsx.sheet_xml``) and the
keystroke macros (``sinks.macro``) from whole Arrow columns. These are the
row loops they replaced, kept byte for byte, so the tests can check that
both give the same bytes. ``write_rows_xlsx`` writes a workbook from
Python rows of mixed types, which the tests' fixture drops need.
"""

from __future__ import annotations

import datetime
import math
import re
from datetime import date
from decimal import Decimal
from itertools import groupby
from operator import itemgetter
from xml.sax.saxutils import escape

import pyarrow as pa

from etl_jetro_spark.sources.xlsx import _NS, col_letters, write_xlsx

FREIGHT_ITEM = "0990033"
FAXSHARE_UNC = "\\\\10.1.12.12\\faxshare\\DailyPOCount\\POs"


# --------------------------------------------------------------------------
# worksheet XML from Python rows
# --------------------------------------------------------------------------

def rows_sheet_xml(rows: list[list[object]]) -> str:
    """Worksheet XML of positional rows: None and NaN are no cell, bools
    booleans, ints and floats numbers (``repr``), anything else an
    escaped inline string."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        f'<worksheet xmlns="{_NS["m"]}"><sheetData>',
    ]
    letters = [col_letters(ci) for ci in range(max(map(len, rows), default=0))]
    for ri, row in enumerate(rows):
        cells = []
        for ci, v in enumerate(row):
            if v is None or (isinstance(v, float) and v != v):
                continue
            ref = f"{letters[ci]}{ri + 1}"
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{escape(str(v))}</t></is></c>"
                )
        parts.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def sheet_rows(columns: list[str], rows) -> list[list[object]]:
    """Header + data rows of a table, dates as m/d/yyyy text."""
    out = [list(columns)]
    for r in rows:
        out.append([
            f"{v.month}/{v.day}/{v.year}"
            if isinstance(v, (datetime.date, datetime.datetime)) else v
            for v in r
        ])
    return out


def table_sheet_xml(table: pa.Table) -> bytes:
    """The order sheet's worksheet XML, rendered a row at a time."""
    rows = zip(*(col.to_pylist() for col in table.columns))
    return rows_sheet_xml(sheet_rows(table.column_names, rows)).encode()


def write_rows_xlsx(path: str, sheets: dict[str, list[list[object]]], **kwargs) -> str:
    """``sources.xlsx.write_xlsx`` over sheets given as Python rows."""
    return write_xlsx(path, {n: rows_sheet_xml(r).encode() for n, r in sheets.items()}, **kwargs)


# --------------------------------------------------------------------------
# keystroke macros
# --------------------------------------------------------------------------

def numeric_first_order(key: float | None, text: str | None, item: str | None) -> tuple:
    """W1 as a Python sort key: orders rows like Spark's
    ``orderBy(numeric_first_key_sql(c) ASC NULLS LAST, c, item)``, given
    each row's key. NULL keys sort last and NaN above every number; NULL
    ``c``/``item`` sort first."""
    nan = key is not None and math.isnan(key)
    return (
        key is None, nan, 0.0 if key is None or nan else key,
        text is not None, text or "",
        item is not None, item or "",
    )


def _mdy2(d: date) -> str:
    return d.strftime("%m/%d/%y")


def _item7(v: int | None) -> str | None:
    return None if v is None else str(abs(v)).zfill(7)


def _num_text(v: object) -> str | None:
    if v is None or not isinstance(v, float):
        return None if v is None else str(v)
    if v != v or v in (float("inf"), float("-inf")):
        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(v)]
    if v == 0 or 1e-3 <= abs(v) < 1e7:
        return repr(v)
    sign, digits, exp = Decimal(repr(v)).normalize().as_tuple()
    mant = "".join(map(str, digits))
    return f"{'-' if sign else ''}{mant[0]}.{mant[1:] or '0'}E{exp + len(mant) - 1}"


def _clean_num_str(s: object) -> str:
    t = str(s).strip()
    if t in ("", "nan", "NaN", "None"):
        return ""
    try:
        float(t)
    except ValueError:
        return t
    if "." in t:
        t = t.rstrip("0").rstrip(".")
    return t


def dlpm_text(table: pa.Table, initials: str, run_date: date) -> str:
    """DLPM's text over the collected, ordered price table (columns
    store, item, vendor, cost)."""
    date_text = _mdy2(run_date)
    out: list[str] = []
    for store, item, vendor, cost in zip(
        *(table.column(c).to_pylist() for c in ("store", "item", "vendor", "cost"))
    ):
        cost = (cost or "0.00").replace(",", "")
        out += [
            "Key Tab", f"Type {store}-{item}", "Key Tab", "Key Delete",
            "Type H", "Key Tab", "Type A", "Key Enter", f"Type {date_text}",
            *["Key Tab"] * 3, f"Type {initials}",
            *["Key Tab"] * 4, f"Type {vendor}",
            *["Key Tab"] * 5, f"Type {cost}",
            "Key Enter", "Type n", *["Key Enter"] * 6,
        ]
    return "\n".join(out)


def _clipboard_block(supplier: str, buyer: str, run_date: date) -> list[str]:
    iso = run_date.isoformat()
    return [
        "wait 3000",
        "EditSelect 13,39,13,47",
        "key EditCopy",
        "wait 1000",
        f"FileSpec clipboard,C:\\POs\\VendorNo-{supplier}-{iso}.csv,append",
        "key EditSaveClipboard",
        "wait 1000",
        f"FileSpec clipboard,{FAXSHARE_UNC}\\{iso}_{buyer}.csv,append",
        "key EditSaveClipboard",
        "key PA2",
        'type "adpo,x"',
        "key enter",
    ]


def _group_trailer(branch: str, edd: str | None) -> list[str]:
    return [
        f"Type  {branch}-{FREIGHT_ITEM}", "Key Enter", "Key tab", *["Key delete"] * 4,
        "Type 0", "Key Enter", "Key PF13", "Key Enter", f"Type {edd}", "Key Enter", "Key Enter",
    ]


def render_adpo_x(canonical: pa.Table, run_date: date) -> tuple[str, str]:
    """ADPO,X a row at a time."""
    cols = ("Branch", "Item", "Distro Size", "Expected Delivery Date",
            "Supplier On Record", "WW Buyer")
    rows = []
    for b, i, qty, edd, supplier, buyer in zip(*(canonical.column(c).to_pylist() for c in cols)):
        branch, item = (None if b is None else str(b)), _item7(i)
        key = numeric_first_order(None if b is None else float(b), branch, item)
        rows.append((key, branch, item, qty, edd and _mdy2(edd), _num_text(supplier), buyer))
    if not rows:
        raise ValueError("canonical output is empty")
    rows.sort(key=itemgetter(0))
    first_supplier, first_buyer = rows[0][5], rows[0][6]
    supplier = "".join(ch for ch in first_supplier.removesuffix(".0") if ch.isdigit()) or first_supplier
    buyer = (first_buyer or "P20").strip() or "P20"

    lines: list[str] = []
    current = group_edd = None
    for _key, branch, item, qty, edd, _s, _b in rows:
        if branch != current:
            if current is not None:
                lines += _group_trailer(current, group_edd)
                lines += _clipboard_block(supplier, buyer, run_date)
            current, group_edd = branch, edd
            lines += ["Key tab", f"Type {buyer}", f"Type {branch}", f"Type {supplier}", "Key Enter"]
        lines += [
            f"Type  {branch}-{item}", "Key enter", "Key tab", *["Key delete"] * 4,
            f"Type  {qty if qty is not None else 0}", "Key Enter", "Key PF24",
        ]
    if current is not None:
        lines += _group_trailer(current, group_edd)
        lines += _clipboard_block(supplier, buyer, run_date)

    text = "\n".join(str(ln).replace("\r", "") for ln in lines)
    text = re.sub(r"[ \t]+(\n)", r"\1", text)
    text = re.sub(r"\n{2,}", "\n", text)
    name = f"{run_date.isoformat()}_ADPO_X_Vendor{supplier}.txt"
    return name, text


def render_adpo_i(canonical: pa.Table, run_date: date) -> tuple[str, str]:
    """ADPO,I a row at a time."""
    cols = ("Branch", "Item", "Distro Size", "Expected Delivery Date", "XDCK", "FOB")
    rows = sorted(
        (
            (_num_text(b), _item7(i), _num_text(q), edd and _mdy2(edd),
             _num_text(x), _num_text(f))
            for b, i, q, edd, x, f in zip(*(canonical.column(c).to_pylist() for c in cols))
        ),
        key=lambda r: (r[0] is not None, r[0] or "", r[1] is not None, r[1] or ""),
    )
    iso = run_date.isoformat()
    lines: list[str] = []
    for _branch, group in groupby(rows, key=itemgetter(0)):
        group = list(group)
        branch, _item, _qty, edd, xdck, fob = group[0]
        edd, xdck, fob = edd or "", _clean_num_str(xdck), _clean_num_str(fob)
        lines += ["", "Key tab", "Type P20", f"Type {branch}", "Type 20000", "Key Enter"]
        for _b, item, qty, *_ in group:
            lines += [
                "", f"Type 498-{item}", "Key enter", "Key tab", *["Key delete"] * 4,
                f"Type {qty}", "Key Enter", "Key PF24",
            ]
        lines += [
            "", f"Type 498-{FREIGHT_ITEM}", "Key enter", "Key tab", *["Key delete"] * 4,
            "Type 0", "Key Enter", "Key PF13", "Key Enter", "wait 500", "wait 500",
            f"Type {edd}", "Key PF2", "wait 500", "Type M", "key pf2", "wait 1500",
            "key cursorup", "key cursorup", "wait 500", "key cursorup", "key cursorup",
            "key tab", "wait 500", "key cursordown", f"Type {edd}", "Key Tab",
        ]
        if fob:
            lines += [
                *["key delete"] * 4, f"type {fob}", "wait 500", "key tab",
                "type W", "Key cursordown", "Key tab", "key tab",
            ]
        else:
            lines += ["key tab", "key tab", "wait 500", "key tab", "Key cursordown", "Key tab"]
        lines += [
            "", "key delete", "wait 500", *["key delete"] * 3, f"Type {xdck}", "wait 500",
            "key tab", "type W", "Key tab", "key tab", "wait 500", "key tab",
            "wait 500", "Key cursordown", "wait 500", "Key cursordown", "key tab",
            "", "key Enter", "wait 500", "key Enter",
            "wait 3000", "EditSelect 13,39,13,47", "key EditCopy", "wait 1000",
            f"FileSpec clipboard,C:\\POs\\{iso}_114544_P20.csv,append",
            "key EditSaveClipboard", "wait 1000",
            f"FileSpec clipboard,{FAXSHARE_UNC}\\{iso}_P20.csv,append",
            "key EditSaveClipboard",
        ]

    name = f"{iso}_ADPO_I_output.txt"
    return name, "\n".join(ln.rstrip() for ln in lines) + "\n"
