"""Keystroke-macro text sinks (SURVEY §2.9 K3–K5) — reference-faithful.

The reference renders deterministic AS/400 keystroke scripts from the final
ordered tables; the byte layout of each template below mirrors the
reference output format exactly (K3 DLPM: 247/tools/pricesheet_tool.py:
106-203; K4 ADPO,X: 247/tools/allocation_tool.py:230-336; K5 ADPO,I:
Flips/tools/adpo_I_tool.py:7-288). The clock is an injected parameter
(the reference stamps wall-clock time — SURVEY §7 hard-part 4).

These are *ordered sinks*: output depends on total row order. Their
inputs are small by construction (stores × items, not fact volume), so
each is executed once and ordered on the driver: ADPO,X and ADPO,I render
from the run's collected canonical Arrow table, and DLPM collects the
price table, ordered by its W1 keys, through the same
``sinks.excel_sink.collect_ordered``. Every renderer is one pass over its
sorted rows.
"""

from __future__ import annotations

import re
from datetime import date
from decimal import Decimal
from itertools import groupby
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame

from etl_jetro_spark.functions.text import item7_sql, money2dp_sql
from etl_jetro_spark.operators.sort import numeric_first_order, numeric_first_sort_keys
from etl_jetro_spark.sinks.excel_sink import collect_ordered
from etl_jetro_spark.sqltext import ident

FREIGHT_ITEM = "0990033"   # reference allocation_tool.py:304
FAXSHARE_UNC = "\\\\10.1.12.12\\faxshare\\DailyPOCount\\POs"


def _mdy2(d: date) -> str:
    return d.strftime("%m/%d/%y")


def _item7(v: int | None) -> str | None:
    """``functions.text.item7`` over the canonical (long) Item column."""
    return None if v is None else str(abs(v)).zfill(7)


def _num_text(v: object) -> str | None:
    """Spark's cast to string: doubles in Java notation (plain for
    1e-3 <= |v| < 1e7, else ``d.dddE±n``; shortest round-trip digits, where
    the JVM differs only on a few extreme values such as 4.9E-324), other
    values as ``str``."""
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
    """Trailing-zero/point cleanup for XDCK/FOB values ('1.50'→'1.5',
    '10.00'→'10') — reference adpo_I_tool.py:50-71."""
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


# --------------------------------------------------------------------------
# K3: DLPM price-update macro
# --------------------------------------------------------------------------

def render_dlpm(
    price_long: DataFrame, initials: str, run_date: date
) -> tuple[str, str]:
    """Per long-price row, the reference's fixed 31-line keystroke block.

    Returns (filename 'MM-DD-YY 247DLPM.txt', text). Input schema:
    (Store#, Item#, Vendor#, Cost). Rows render in numeric-store order
    (W1) — the engine's deterministic ordering of the reference's
    caller-supplied order: the price table is collected once through
    ``collect_ordered``, its W1 keys (``numeric_first_sort_keys`` of the
    store, then store and item) computed in the same plan.
    """
    store = f"trim(CAST({ident('Store#')} AS STRING))"
    keys = numeric_first_sort_keys(store)
    cols = {
        "store": store,
        "item": item7_sql(ident("Item#")),
        "vendor": f"trim(CAST({ident('Vendor#')} AS STRING))",
        "cost": money2dp_sql(ident("Cost")),
        **keys,
    }
    table = collect_ordered(
        price_long.selectExpr(*[f"{e} AS {ident(name)}" for name, e in cols.items()]),
        *keys, "store", "item",
    )
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
    name = f"{run_date.strftime('%m-%d-%y')} 247DLPM.txt"
    return name, "\n".join(out)


# --------------------------------------------------------------------------
# K4: ADPO,X allocation macro
# --------------------------------------------------------------------------

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


def render_adpo_x(canonical: pa.Table, run_date: date) -> tuple[str, str]:
    """Grouped ordered render per Branch (numeric order): 5-line group
    header, 10-line item block, freight trailer with EDD, and the
    clipboard block appending cut-PO CSVs.

    ``canonical`` is the run's collected canonical table. Supplier and
    buyer come from the table itself (first row), like the reference.
    Returns (filename '{iso}_ADPO_X_Vendor{supplier}.txt', text).
    """
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


def _group_trailer(branch: str, edd: str | None) -> list[str]:
    """Freight line and EDD entry closing a branch group; ``edd`` is the
    group's first row's."""
    return [
        f"Type  {branch}-{FREIGHT_ITEM}", "Key Enter", "Key tab", *["Key delete"] * 4,
        "Type 0", "Key Enter", "Key PF13", "Key Enter", f"Type {edd}", "Key Enter", "Key Enter",
    ]


# --------------------------------------------------------------------------
# K5: ADPO,I macro (Flips big)
# --------------------------------------------------------------------------

def render_adpo_i(canonical: pa.Table, run_date: date) -> tuple[str, str]:
    """K5: per-branch blocks with warehouse-addressed items, a freight
    trailer whose terminal choreography varies with FOB presence, and
    per-branch XDCK/FOB value injection. Groups iterate in string-sorted
    Branch order (reference groupby sort=True on the string column);
    ``canonical`` is the run's collected canonical table. The warehouse
    (498), buyer (P20), freight type (W) and XDCK letter (M) are the
    reference's fixed values. Returns (filename
    '{iso}_ADPO_I_output.txt', text)."""
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
        # outer cycle start, then one block per item
        lines += ["", "Key tab", "Type P20", f"Type {branch}", "Type 20000", "Key Enter"]
        for _b, item, qty, *_ in group:
            lines += [
                "", f"Type 498-{item}", "Key enter", "Key tab", *["Key delete"] * 4,
                f"Type {qty}", "Key Enter", "Key PF24",
            ]
        # trailer: shared head, FOB-dependent middle, XDCK tail + clipboard
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
