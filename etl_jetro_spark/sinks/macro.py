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
``sinks.excel_sink.collect_ordered``. Every renderer works on whole
columns (``pyarrow.compute``): it computes each row's item block as one
string column, puts a group's header and trailer, formatted once per group,
around each run of equal Branch, and joins the text once.
"""

from __future__ import annotations

import re
from datetime import date
from decimal import Decimal
from itertools import groupby

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from etl_jetro_spark.functions.text import item7_sql, money2dp_sql
from etl_jetro_spark.operators.sort import numeric_first_sort_keys
from etl_jetro_spark.sinks.excel_sink import collect_ordered
from etl_jetro_spark.sqltext import ident

FREIGHT_ITEM = "0990033"   # reference allocation_tool.py:304
FAXSHARE_UNC = "\\\\10.1.12.12\\faxshare\\DailyPOCount\\POs"


def _mdy2(d: date) -> str:
    return d.strftime("%m/%d/%y")


def _int_text(col: pa.ChunkedArray | pa.Array, null: str) -> pa.ChunkedArray:
    """Each value of an integer column as text (``str``), ``null`` where
    it is null."""
    if not pa.types.is_integer(col.type):
        raise TypeError(f"expected an integer column, got {col.type}")
    return pc.fill_null(pc.cast(col, pa.string()), null)


def _item7(item: pa.ChunkedArray) -> pa.ChunkedArray:
    """``functions.text.item7`` over the canonical (long) Item column: the
    absolute value's digits, zero-padded to 7 (8+ digits unchanged);
    NULL stays NULL."""
    digits = pc.utf8_ltrim(pc.cast(item, pa.string()), "-")
    return pc.utf8_lpad(digits, 7, "0")


def _runs(values: list) -> list[tuple[object, int, int]]:
    """(value, start, stop) of each run of equal consecutive values."""
    out, start = [], 0
    for v, group in groupby(values):
        stop = start + sum(1 for _ in group)
        out.append((v, start, stop))
        start = stop
    return out


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
    name = f"{run_date.strftime('%m-%d-%y')} 247DLPM.txt"
    return name, _dlpm_text(table, initials, run_date)


def _dlpm_text(table: pa.Table, initials: str, run_date: date) -> str:
    """DLPM's blocks over the ordered price table (string columns store,
    item, vendor, cost), one string column of blocks joined once. A NULL
    value types ``None``; a NULL or empty cost types 0.00, commas
    dropped."""
    store, item, vendor = (pc.fill_null(table.column(c), "None") for c in ("store", "item", "vendor"))
    cost = table.column("cost")
    cost = pc.replace_substring(
        pc.if_else(pc.fill_null(pc.equal(cost, ""), True), "0.00", cost), ",", ""
    )
    tabs = lambda n: "\nKey Tab" * n  # noqa: E731
    blocks = pc.binary_join_element_wise(
        "Key Tab\nType ", store, "-", item,
        f"\nKey Tab\nKey Delete\nType H\nKey Tab\nType A\nKey Enter\nType {_mdy2(run_date)}"
        f"{tabs(3)}\nType {initials}{tabs(4)}\nType ",
        vendor, f"{tabs(5)}\nType ", cost, "\nKey Enter\nType n" + "\nKey Enter" * 6, "",
    )
    return "\n".join(blocks.to_pylist())


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

    ``canonical`` is the run's collected canonical table. Rows are
    reordered by W1 (``operators.sort.numeric_first_sort_keys``'s order:
    Branch by value, NULL last, then the 7-digit item text, NULL first;
    ties keep the table's order). Supplier and buyer come from the table
    itself (first row), like the reference. A run of NULL Branch gets a
    ``Type None`` header and no trailer. Returns (filename
    '{iso}_ADPO_X_Vendor{supplier}.txt', text).
    """
    if canonical.num_rows == 0:
        raise ValueError("canonical output is empty")
    item7 = _item7(canonical.column("Item"))
    order = pc.sort_indices(
        pa.table({"b": canonical.column("Branch"), "v": pc.is_valid(item7), "i": item7}),
        sort_keys=[("b", "ascending"), ("v", "ascending"), ("i", "ascending")],
        null_placement="at_end",
    )
    branch = canonical.column("Branch").take(order)
    edd = canonical.column("Expected Delivery Date").take(order)
    first = canonical.take(order[:1]).to_pylist()[0]
    first_supplier = _num_text(first["Supplier On Record"])
    supplier = "".join(ch for ch in first_supplier.removesuffix(".0") if ch.isdigit()) or first_supplier
    buyer = (first["WW Buyer"] or "P20").strip() or "P20"

    blocks = pc.binary_join_element_wise(
        "Type  ", _int_text(branch, "None"), "-", pc.fill_null(item7.take(order), "None"),
        "\nKey enter\nKey tab" + "\nKey delete" * 4 + "\nType  ",
        _int_text(canonical.column("Distro Size").take(order), "0"),
        "\nKey Enter\nKey PF24", "",
    ).to_pylist()
    clipboard = "\n".join(_clipboard_block(supplier, buyer, run_date))
    pieces: list[str] = []
    for k, (b, start, stop) in enumerate(_runs(branch.to_pylist())):
        if k or b is not None:  # a leading NULL run gets no header
            pieces.append(f"Key tab\nType {buyer}\nType {b}\nType {supplier}\nKey Enter")
        pieces += blocks[start:stop]
        if b is not None:
            group_edd = edd[start].as_py()
            pieces += [_group_trailer(b, group_edd and _mdy2(group_edd)), clipboard]

    # the reference's cleanup: no CR, no trailing blanks, no empty lines
    # (each substitution runs only where its pattern can match)
    text = "\n".join(pieces).replace("\r", "")
    if " \n" in text or "\t\n" in text:
        text = re.sub(r"[ \t]+(\n)", r"\1", text)
    if "\n\n" in text:
        text = re.sub(r"\n{2,}", "\n", text)
    name = f"{run_date.isoformat()}_ADPO_X_Vendor{supplier}.txt"
    return name, text


def _group_trailer(branch: object, edd: str | None) -> str:
    """Freight line and EDD entry closing a branch group; ``edd`` is the
    group's first row's."""
    return "\n".join([
        f"Type  {branch}-{FREIGHT_ITEM}", "Key Enter", "Key tab", *["Key delete"] * 4,
        "Type 0", "Key Enter", "Key PF13", "Key Enter", f"Type {edd}", "Key Enter", "Key Enter",
    ])


# --------------------------------------------------------------------------
# K5: ADPO,I macro (Flips big)
# --------------------------------------------------------------------------

def render_adpo_i(canonical: pa.Table, run_date: date) -> tuple[str, str]:
    """K5: per-branch blocks with warehouse-addressed items, a freight
    trailer whose terminal choreography varies with FOB presence, and
    per-branch XDCK/FOB value injection. Groups iterate in string-sorted
    Branch order (reference groupby sort=True on the string column), items
    in 7-digit item text order, NULLs first and ties in the table's order;
    ``canonical`` is the run's collected canonical table. A group's EDD,
    XDCK and FOB are its first row's. The warehouse (498), buyer (P20),
    freight type (W) and XDCK letter (M) are the reference's fixed values.
    Returns (filename '{iso}_ADPO_I_output.txt', text)."""
    branch = pc.cast(canonical.column("Branch"), pa.string())
    item7 = _item7(canonical.column("Item"))
    order = pc.sort_indices(
        pa.table({"b": branch, "i": item7}),
        sort_keys=[("b", "ascending"), ("i", "ascending")], null_placement="at_start",
    )
    branch = branch.take(order)
    firsts = canonical.select(["Expected Delivery Date", "XDCK", "FOB"]).take(order)
    blocks = pc.binary_join_element_wise(
        "\nType 498-", pc.fill_null(item7.take(order), "None"),
        "\nKey enter\nKey tab" + "\nKey delete" * 4 + "\nType ",
        _int_text(canonical.column("Distro Size").take(order), "None"),
        "\nKey Enter\nKey PF24", "",
    ).to_pylist()
    iso = run_date.isoformat()
    pieces: list[str] = []
    for b, start, stop in _runs(branch.to_pylist()):
        edd, xdck, fob = (firsts.column(c)[start].as_py() for c in firsts.column_names)
        edd = edd and _mdy2(edd) or ""
        xdck, fob = _clean_num_str(_num_text(xdck)), _clean_num_str(_num_text(fob))
        pieces.append(f"\nKey tab\nType P20\nType {b}\nType 20000\nKey Enter")
        pieces += blocks[start:stop]
        trailer = [
            "", f"Type 498-{FREIGHT_ITEM}", "Key enter", "Key tab", *["Key delete"] * 4,
            "Type 0", "Key Enter", "Key PF13", "Key Enter", "wait 500", "wait 500",
            f"Type {edd}", "Key PF2", "wait 500", "Type M", "key pf2", "wait 1500",
            "key cursorup", "key cursorup", "wait 500", "key cursorup", "key cursorup",
            "key tab", "wait 500", "key cursordown", f"Type {edd}", "Key Tab",
        ]
        if fob:
            trailer += [
                *["key delete"] * 4, f"type {fob}", "wait 500", "key tab",
                "type W", "Key cursordown", "Key tab", "key tab",
            ]
        else:
            trailer += ["key tab", "key tab", "wait 500", "key tab", "Key cursordown", "Key tab"]
        trailer += [
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
        pieces.append("\n".join(ln.rstrip() for ln in trailer))

    name = f"{iso}_ADPO_I_output.txt"
    return name, "\n".join(pieces) + "\n"
