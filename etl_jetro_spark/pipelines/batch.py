"""The six supplier batch pipelines re-expressed on the engine.

Each pipeline is (a) a pandas *clean* step on the raw positional grid
(ingest layer: one sheet, a few KB, cleaned on the driver) and (b) a Spark
*build* step: one SQL statement over the sheet — melt → sum → map lookups
→ derive → canonical columns, as CTEs composed from the renderers of
``operators.{unpivot,joins,canonical}`` and ``functions`` — analyzed
once, as a whole (``sqltext.sql_over``).

Reference cites per pipeline are in the docstrings; constants come from
operators.canonical.PIPELINES (code-observed, SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from etl_jetro_spark.functions.dates import default_edd_sql, fmt_mdy_no_pad_sql, next_mwf_sql
from etl_jetro_spark.functions.na import normalize_na_sql
from etl_jetro_spark.functions.text import norm_key_text, parse_money_sql, strip_dot_zero_text
from etl_jetro_spark.normalize import grid as G
from etl_jetro_spark.operators.canonical import PIPELINES, canonical_sql
from etl_jetro_spark.operators.joins import map_lookup_sql
from etl_jetro_spark.operators.unpivot import numeric_columns, stack_sql
from etl_jetro_spark.sqltext import date_lit, ident, sql_over, string_lit


def _to_spark(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Headered wide pandas grid → all-string Spark DataFrame (a local
    relation)."""
    return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None).astype(str).replace({"None": None}))


def _sql(spark: SparkSession, wide: pd.DataFrame, select: str, **steps: str) -> DataFrame:
    """A build's one statement over the sheet, which its text reads as
    ``sheet``: ``select`` after the CTEs ``steps``.

    A sheet is a local relation that Spark scans in several slices, so a
    hash aggregate over its cells would need an Exchange to group a few
    thousand of them, and AQE would run its map side as a job of its own.
    A build that sums therefore reads the sheet with ``/*+ COALESCE(1) */``
    in the step that reads it, below the aggregate: one partition meets the
    aggregate's required distribution with no Exchange. A sheet that is
    only filtered and projected (ACME) gets no hint: Catalyst folds that
    plan into a local relation while optimizing, which a Coalesce under it
    would stop (changing the nullability its schema declares)."""
    return sql_over(spark, {"sheet": _to_spark(spark, wide)}, select, **steps)


def _sum_sql(v: str) -> str:
    """Sum of a group's cells, junk and NULL read as 0 (A1's ``fillna(0)``,
    allocation_tool.py:87-91); ``try_cast``, as ANSI mode would throw on a
    messy cell."""
    return f"sum(coalesce(try_cast({v} AS DOUBLE), 0.0D))"


# --------------------------------------------------------------------------
# 247 / Leavins allocation  (reference 247/tools/allocation_tool.py:7-169,
# Leavins/tools/allocation_tool.py — Leavins requires an explicit EDD)
# --------------------------------------------------------------------------

def clean_allocation(raw: pd.DataFrame) -> pd.DataFrame:
    """Drop junk row 0, promote row 1, slice left of 'Total', drop the
    description column and the grand-total footer row (P1/P2/P3/P4)."""
    wide = G.promote_header(raw, header_row=1)
    wide = G.drop_last_row(wide)
    wide = G.slice_at_marker(wide, "Total", keep="left")
    # only the exact 'Item Description' column — the reference does not
    # touch other description-ish names (allocation_tool.py:43-48)
    return G.drop_columns_ci(wide, ["Item Description"])


def build_allocation(
    spark: SparkSession,
    wide: pd.DataFrame,
    pipeline: str = "247",
    edd: str | None = None,
    base_date: str | None = None,
) -> DataFrame:
    """Melt (U1) → sum per (Branch, Item) (A1) → ≠0 (P8) → canonical.

    The build of 247, Leavins and SouthernCross (whose clean step pins its
    Item column first). ``edd`` (SQL text) defaults to the
    today+2-roll-Monday rule (F9) from ``base_date`` — Leavins passes an
    explicit one (the reference errors without it).
    """
    if edd is None:
        if base_date is None and pipeline == "leavins":
            raise ValueError("leavins requires an explicit EDD")  # :133-134
        edd = default_edd_sql(date_lit(base_date))
    cols = [str(c) for c in wide.columns]
    item = ident(next(c for c in cols if norm_key_text(c) in ("item", "itemitem")))
    canon = canonical_sql(PIPELINES[pipeline], edd, {
        "Branch": "Branch", "Item": "Item", "Distro Size": "CAST(qty AS BIGINT)",
    })
    return _sql(
        spark, wide,
        cells=f"SELECT /*+ COALESCE(1) */ {item}, {stack_sql(numeric_columns(cols), 'Branch', 'v')} FROM sheet",
        sums=f"SELECT Branch, {item} AS Item, {_sum_sql('v')} AS qty FROM cells GROUP BY Branch, {item}",
        select=f"SELECT {canon} FROM sums WHERE qty != 0",
    )


# --------------------------------------------------------------------------
# 247 price sheet  (reference 247/tools/pricesheet_tool.py:8-102)
# --------------------------------------------------------------------------

def clean_pricesheet(raw: pd.DataFrame) -> pd.DataFrame:
    """Drop row 0, promote row 1 (headers deduped with .1 suffixes), drop
    zero/NA Item# rows, drop Item Name / FOB columns."""
    wide = G.promote_header(raw, header_row=1)
    wide = G.drop_columns_ci(wide, ["Item Name", "FOB"])
    item = wide.columns[G.find_column(wide, "Item#")]
    keep = ~wide[item].map(
        lambda v: str(v).strip().lower() in ("", "0", "0.0", "nan", "none")
    )
    return wide[keep].reset_index(drop=True)


STORE_REMAP = {"490": "498"}       # P10, pricesheet_tool.py:91-93
STORE_EXCLUDE = ("457", "453")


def build_pricesheet_long(spark: SparkSession, wide: pd.DataFrame) -> DataFrame:
    """Melt to (Store#, Item#, Vendor#=81214, Cost) (U2) with store remap /
    exclusion (P10) and zero-cost filter (P8)."""
    cols = [str(c) for c in wide.columns]
    item = ident(next(c for c in cols if norm_key_text(c) == "item"))
    store = ident("Store#")
    remap = " ".join(
        f"WHEN {store} = {string_lit(src)} THEN {string_lit(dst)}" for src, dst in STORE_REMAP.items()
    )
    excluded = ", ".join(string_lit(s) for s in STORE_EXCLUDE)
    return _sql(
        spark, wide,
        cells=f"SELECT {item}, {stack_sql(numeric_columns(cols), 'Store#', 'v')} FROM sheet",
        priced=f"""SELECT CASE {remap} ELSE {store} END AS {store}, {item} AS {ident('Item#')},
            81214 AS {ident('Vendor#')}, {parse_money_sql('v')} AS Cost
            FROM cells WHERE NOT ({store} IN ({excluded}))""",
        select="SELECT * FROM priced WHERE Cost IS NOT NULL AND Cost != 0",
    )


# --------------------------------------------------------------------------
# ACME / Phillips  (reference ACME/tools/acme_tool.py:6-112,
# Phillips/tools/phillips_tool.py:6-123)
# --------------------------------------------------------------------------

def clean_acme_like(raw: pd.DataFrame, leading_junk_cols: int) -> pd.DataFrame:
    """Promote row 0; drop N leading junk columns (ACME 2, Phillips 1);
    keep through 'Distro Size'."""
    wide = G.promote_header(raw, header_row=0)
    wide = wide.iloc[:, leading_junk_cols:]
    return G.slice_at_marker(wide, "Distro Size", keep="through")


def docks_from_token(pipeline: str, token: str) -> tuple[int, ...]:
    """P7: resolve the dock filter from the cleaned filename token;
    ambiguity or no match is an error (reference acme_tool.py:25-41)."""
    cfg = PIPELINES[pipeline]
    hits = [d for key, d in cfg.docks_by_token.items() if key in token]
    if len(hits) != 1:
        raise ValueError(
            f"{pipeline}: filename token {token!r} matches {len(hits)} dock sets"
        )
    return hits[0]


def build_acme_like(
    spark: SparkSession,
    wide: pd.DataFrame,
    pipeline: str,
    file_token: str,
    base_date: str,
) -> DataFrame:
    """Dock predicate (P7) → ≠0 distro (P8) → constants + branch fix →
    canonical. Phillips keeps dock as Warehouse and appends XdockCode."""
    cfg = PIPELINES[pipeline]
    docks = docks_from_token(pipeline, file_token)
    columns = {str(c): ident(str(c)) for c in wide.columns}
    if cfg.warehouse_from_dock:
        columns.update(Warehouse="dock", XdockCode="CAST(NULL AS DOUBLE)")
    canon = canonical_sql(cfg, default_edd_sql(date_lit(base_date)), columns)
    # NB: the reference's zero filter is pandas ``ne(0)`` on a coerced
    # numeric — NaN compares True, so non-numeric Distro cells are KEPT
    # (acme_tool.py:53-55); only literal zeros drop.
    return _sql(
        spark, wide,
        select=f"""SELECT {canon} FROM sheet
            WHERE try_cast(dock AS INT) IN ({', '.join(str(int(d)) for d in docks)})
            AND NOT coalesce(try_cast({ident('Distro Size')} AS DOUBLE) = 0, false)""",
    )


# --------------------------------------------------------------------------
# SouthernCross  (reference SouthernCross/tools/southern_cross_tool.py:9-233)
# --------------------------------------------------------------------------

def _coerce_cell(v: object) -> object:
    """The reference's per-cell coercion (southern_cross_tool.py:42-73):
    blanks/NA-words → 0; trailing '.0'/'.00' stripped; numeric → int if
    integral else float; non-numeric text kept as the stripped string
    (commas NOT treated as thousands separators)."""
    s = str(v).strip() if v is not None else ""
    if s == "" or s.lower() in ("nan", "na", "none"):
        return 0
    s2 = strip_dot_zero_text(s)
    try:
        f = float(s2)
        return int(f) if f.is_integer() else f
    except ValueError:
        return s2


def clean_southern_cross(raw: pd.DataFrame) -> pd.DataFrame:
    """Promote row 0; drop LOT # and right (P3); drop Description; coerce
    the cell matrix; drop Item==0 rows; alphabetical ci column order with
    Item pinned left (P13)."""
    wide = G.promote_header(raw, header_row=0)
    wide = G.slice_at_marker(wide, "LOT #", keep="left")
    wide = G.drop_columns_ci(wide, ["Description"])
    wide = wide.map(_coerce_cell)
    item = wide.columns[G.find_column(wide, "Item")]
    wide = wide[wide[item].map(lambda v: v != 0)].reset_index(drop=True)
    rest = sorted([c for c in wide.columns if c != item], key=lambda c: str(c).lower())
    return wide[[item] + rest]


# --------------------------------------------------------------------------
# Flips big + baby  (reference Flips/tools/big_flip_tool.py:55-297,
# baby_flip_tool.py:7-338)
# --------------------------------------------------------------------------

def split_big_and_baby(raw: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """P11: big region = rows above the first 'Total Weight' in col 3;
    baby region = rows from the SECOND 'Item' in col 0."""
    big, _ = G.split_at_sentinel(raw, col=3, sentinel="Total Weight", occurrence=1)
    _, baby = G.split_at_sentinel(raw, col=0, sentinel="Item", occurrence=2)
    return big, baby


def build_flips_store_block(big: pd.DataFrame) -> dict[str, dict[str, str]]:
    """P12: the per-store Fob/Xdock block right of column E, stopping at
    Lot #/Total: store codes on row 4, Fob on row 1 and Xdock on row 3
    (reference :84-129)."""
    block = G.extract_block(
        big, row_range=(0, 5), col_start=4, stop_markers=["Lot #", "Total"], marker_row=4
    )
    stores = [G.clean_header(v) for v in block.iloc[4]]
    fob = {s: str(block.iat[1, j]) for j, s in enumerate(stores) if s}
    xdock = {s: str(block.iat[3, j]) for j, s in enumerate(stores) if s}
    return {"fob": fob, "xdock": xdock}


def clean_big_flip(big: pd.DataFrame) -> pd.DataFrame:
    """Reference-faithful clean (big_flip_tool.py:132-177): drop rows 0-3
    and positional columns 1-3, promote the next row, drop empty-header
    columns and empty-item rows, then the 3-way right trim as an
    *elif chain* — strictly left of 'PO #', else through 'Lot #'
    inclusive, else through 'Total' inclusive (P1/P3/P5/P9)."""
    df = big.iloc[4:].reset_index(drop=True)
    keep = [0] + list(range(4, df.shape[1]))
    df = df.iloc[:, [p for p in keep if p < df.shape[1]]]
    wide = G.promote_header(df, header_row=0)
    wide = G.drop_bad_header_columns(wide)
    if wide.shape[1]:
        first = wide.columns[0]
        wide = wide[
            wide[first].map(lambda v: str(v).strip() not in ("", "nan", "None"))
        ].reset_index(drop=True)
    if G.find_column(wide, "PO #") is not None:
        wide = G.slice_at_marker(wide, "PO #", keep="left")
    elif G.find_column(wide, "Lot #") is not None:
        wide = G.slice_at_marker(wide, "Lot #", keep="through")
    elif G.find_column(wide, "Total") is not None:
        wide = G.slice_at_marker(wide, "Total", keep="through")
    return wide


def build_big_flip(
    spark: SparkSession,
    wide: pd.DataFrame,
    store_block: dict[str, dict[str, str]],
    base_date: str,
) -> DataFrame:
    """Melt 2-id (U3, values parsed as money) → ceil-sum (A2) → XDCK/FOB
    map lookups (J3, zero→blank) → next-MWF EDD (F10) → canonical."""
    cols = [str(c) for c in wide.columns]
    item = ident(next(c for c in cols if norm_key_text(c) == "item"))
    lot = ident(next(c for c in cols if norm_key_text(c) == "lot"))
    canon = canonical_sql(PIPELINES["flips_big"], next_mwf_sql(date_lit(base_date)), {
        "Branch": "Branch", "Item": "Item", "Distro Size": ident("Distro Size"),
        "XDCK": parse_money_sql("XDCK"), "FOB": parse_money_sql("FOB"),
    })
    return _sql(
        spark, wide,
        cells=f"SELECT /*+ COALESCE(1) */ {item}, {lot}, {stack_sql(numeric_columns(cols), 'Branch', 'v')} FROM sheet",
        sums=f"""SELECT Branch, {item} AS Item,
            CAST(ceil({_sum_sql(parse_money_sql('v'))}) AS BIGINT) AS {ident('Distro Size')}
            FROM cells GROUP BY Branch, {item}, {lot}""",
        lookups=f"""SELECT *, {map_lookup_sql(store_block['xdock'], 'Branch')} AS XDCK,
            {map_lookup_sql(store_block['fob'], 'Branch')} AS FOB
            FROM sums WHERE {ident('Distro Size')} != 0""",
        select=f"SELECT {canon} FROM lookups",
    )


def clean_baby_flip(baby: pd.DataFrame) -> pd.DataFrame:
    """Reference order (baby_flip_tool.py:7-133): header promotion →
    bad-header column drop (P5) → keep through Lot # inclusive (P3) →
    drop Wgt (P4) → THEN rename the (post-drop) 3rd column to DESC (P16).
    Junk columns in real sheets carry names, so they survive the
    bad-header drop and the desc column is 3rd at rename time."""
    wide = G.promote_header(baby, header_row=0)
    wide = G.drop_bad_header_columns(wide)
    wide = G.slice_at_marker(wide, "Lot #", keep="through")
    wide = G.drop_columns_ci(wide, ["Wgt"])
    cols = list(wide.columns)
    if len(cols) >= 3 and cols[2] != "DESC":
        wide = wide.rename(columns={cols[2]: "DESC"})
    return wide


def _po_by_store_sql(po_rows: list[tuple[str, str, str]]) -> str:
    """The ``(PO #, Store, Item)`` rows as one ``map(Store → array(PO #…))``
    SQL literal, PO numbers in file order."""
    by_store: dict[str, list[str]] = {}
    for po, store, _item in po_rows:
        by_store.setdefault(store, []).append(po)
    if not by_store:
        return "CAST(map() AS MAP<STRING, ARRAY<STRING>>)"
    return "map({})".format(", ".join(
        f"{string_lit(store)}, array({', '.join(string_lit(po) for po in pos)})"
        for store, pos in by_store.items()
    ))


def build_baby_flip(
    spark: SparkSession,
    wide: pd.DataFrame,
    po_rows: list[tuple[str, str, str]],
    carrier: dict[str, object],
    invoice_date: str | None = None,
) -> DataFrame:
    """4-id positional melt (U4) → NA-normalize (P6) → per-cell-ceil 5-key
    sum (A3) → PO join (J1) + carrier join (J2) → the reference's exact
    output schema [Store, PO #, Invoice Date, DESC, Value, LOT#, weight,
    pack size, carrier code] with Store int, weight = Value×pack (long),
    Invoice Date M/d/yyyy (reference baby_flip_tool.py:213-338).

    Both dimensions are driver-side values (``sources.csv_po`` rows and
    the ``sources.json_dim`` dict) that ride in the plan as map literals.
    The PO join keeps a left join's multiplicity: a store with k PO lines
    gives k rows, a store with none one row with a NULL PO #. The carrier
    lookup is on the exact Store key. ``invoice_date`` is the injected
    clock (ISO string). The rows are unordered: ``runner.run_flips_baby``
    orders the collected table by Store then LOT#-last4 (W3)."""
    cols = [str(c) for c in wide.columns]
    item = next(c for c in cols if norm_key_text(c) == "item")
    lot = next(c for c in cols if norm_key_text(c) == "lot")
    keys = ", ".join(ident(c) for c in [item, "DESC", "pack size", lot] if c in cols)
    # U4: the store columns are the ones strictly between pack size (or
    # DESC) and Lot #, by position
    after = "pack size" if "pack size" in cols else "DESC"
    try:
        stores = cols[cols.index(after) + 1 : cols.index(lot)]
    except ValueError as e:
        raise ValueError(f"build_baby_flip: boundary column missing: {e}") from e
    pack = (
        f"try_cast({ident('pack size')} AS DOUBLE)"
        if "pack size" in cols
        else "CAST(NULL AS DOUBLE)"
    )
    inv = fmt_mdy_no_pad_sql(date_lit(invoice_date)) if invoice_date else "CAST(NULL AS STRING)"
    # baby flip ceils PER CELL before aggregating (reference
    # baby_flip_tool.py:104-107: clean ceils the between-columns to Int64,
    # the pivot then sums) — unlike big flip, which ceils the SUM (A2)
    cell = f"CAST(ceil({parse_money_sql('v')}) AS BIGINT)"
    final = {
        "Store": "try_cast(Store AS INT)",
        "PO #": ident("PO #"),
        "Invoice Date": inv,
        "DESC": ident("DESC"),
        "Value": "Value",
        "LOT#": ident(lot),
        "weight": f"try_cast(Value * {pack} AS BIGINT)",
        "pack size": pack,
        "carrier code": map_lookup_sql(carrier, "Store", normalize_keys=False, zero_to_null=False),
    }
    return _sql(
        spark, wide,
        na="SELECT /*+ COALESCE(1) */ {} FROM sheet".format(
            ", ".join(f"{normalize_na_sql(ident(c))} AS {ident(c)}" for c in cols)
        ),
        cells=f"""SELECT {keys}, {stack_sql(numeric_columns(stores), 'Store', 'v')} FROM na
            WHERE trim(coalesce({ident(item)}, '')) != '' AND trim(coalesce({ident(lot)}, '')) != ''""",
        sums=f"SELECT {keys}, Store, {_sum_sql(cell)} AS total FROM cells GROUP BY {keys}, Store",
        orders=f"""SELECT *, CAST(total AS BIGINT) AS Value,
            explode_outer({_po_by_store_sql(po_rows)}[Store]) AS {ident('PO #')}
            FROM sums WHERE total != 0""",
        select="SELECT {} FROM orders".format(", ".join(f"{e} AS {ident(n)}" for n, e in final.items())),
    )
