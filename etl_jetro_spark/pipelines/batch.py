"""The six supplier batch pipelines re-expressed on the engine.

Each pipeline is (a) a pandas *clean* step on the raw positional grid
(ingest layer: one sheet, a few KB, cleaned on the driver) and (b) a Spark
*build* step: melt → aggregate → join → derive → canonical columns
(relational layer, from ``operators.{unpivot,aggregate,joins,canonical}``).

Reference cites per pipeline are in the docstrings; constants come from
operators.canonical.PIPELINES (code-observed, SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jetro_spark.functions.dates import default_edd_sql, fmt_mdy_no_pad_sql, next_mwf_sql
from etl_jetro_spark.functions.text import parse_money, parse_money_sql
from etl_jetro_spark.normalize import grid as G
from etl_jetro_spark.operators.aggregate import sum_by
from etl_jetro_spark.operators.canonical import PIPELINES, to_canonical
from etl_jetro_spark.operators.joins import map_join
from etl_jetro_spark.operators.unpivot import melt, melt_between
from etl_jetro_spark.sqltext import date_lit, ident, string_lit


def _to_spark(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Headered wide pandas grid → all-string Spark DataFrame (a local
    relation)."""
    return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None).astype(str).replace({"None": None}))


def _sum_cells(long: DataFrame, keys: list[str], value: str, out: str, **kw) -> DataFrame:
    """``sum_by`` over one sheet's melted cells, read as one partition.

    A sheet is a local relation that Spark scans in several slices, so the
    hash aggregate would need an Exchange to group a few thousand cells,
    and AQE would run its map side as a job of its own. One partition
    meets the aggregate's required distribution with no Exchange. The
    coalesce sits where it removes that exchange, not on every sheet: a
    sheet that is only filtered and projected (ACME) has none, and Catalyst
    folds that plan into a local relation while optimizing, which a
    Coalesce under it would stop (changing the nullability its schema
    declares)."""
    return sum_by(long.coalesce(1), keys, value, out=out, **kw)


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
    df = _to_spark(spark, wide)
    item_col = next(c for c in df.columns if G._norm_name(c) in ("item", "itemitem"))
    long = melt(
        df, [item_col], var_name="Branch", value_name="qty", numeric_vars_only=True
    ).withColumnRenamed(item_col, "Item")
    agg = _sum_cells(long, ["Branch", "Item"], "qty", out="Distro Size")
    agg = agg.withColumn("Distro Size", F.expr(f"CAST({ident('Distro Size')} AS BIGINT)"))
    return to_canonical(agg, PIPELINES[pipeline], edd=edd)


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
    df = _to_spark(spark, wide)
    item_col = next(c for c in df.columns if G._norm_name(c) == "item")
    long = melt(df, [item_col], var_name="Store#", value_name="cost_raw",
                numeric_vars_only=True)
    store, cost = ident("Store#"), ident("Cost")
    remap = " ".join(
        f"WHEN {store} = {string_lit(src)} THEN {string_lit(dst)}" for src, dst in STORE_REMAP.items()
    )
    excluded = ", ".join(string_lit(s) for s in STORE_EXCLUDE)
    return (
        long.filter(f"NOT ({store} IN ({excluded}))")
        .selectExpr(
            f"CASE {remap} ELSE {store} END AS {store}",
            f"{ident(item_col)} AS {ident('Item#')}",
            f"81214 AS {ident('Vendor#')}",
            f"{parse_money_sql(ident('cost_raw'))} AS {cost}",
        )
        .filter(f"{cost} IS NOT NULL AND {cost} != 0")
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
    df = _to_spark(spark, wide)
    # NB: the reference's zero filter is pandas ``ne(0)`` on a coerced
    # numeric — NaN compares True, so non-numeric Distro cells are KEPT
    # (acme_tool.py:53-55); only literal zeros drop.
    df = df.filter(
        f"try_cast({ident('dock')} AS INT) IN ({', '.join(str(int(d)) for d in docks)})"
    ).filter(f"NOT coalesce(try_cast({ident('Distro Size')} AS DOUBLE) = 0, false)")
    if cfg.warehouse_from_dock:
        df = df.withColumns(
            {"Warehouse": F.expr(ident("dock")), "XdockCode": F.expr("CAST(NULL AS DOUBLE)")}
        )
    return to_canonical(df, cfg, edd=default_edd_sql(date_lit(base_date)))


# --------------------------------------------------------------------------
# SouthernCross  (reference SouthernCross/tools/southern_cross_tool.py:9-233)
# --------------------------------------------------------------------------

def _coerce_cell(v: object) -> object:
    """The reference's per-cell coercion (southern_cross_tool.py:42-73):
    blanks/NA-words → 0; trailing '.0'/'.00' stripped; numeric → int if
    integral else float; non-numeric text kept as the stripped string
    (commas NOT treated as thousands separators)."""
    import re as _re

    s = str(v).strip() if v is not None else ""
    if s == "" or s.lower() in ("nan", "na", "none"):
        return 0
    s2 = _re.sub(r"(?:\.0{1,2})$", "", s)
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
    wide = wide.map(_coerce_cell) if hasattr(wide, "map") else wide.applymap(_coerce_cell)
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
    matches = [
        i for i, v in enumerate(raw.iloc[:, 0]) if G._norm_name(v) == "item"
    ]
    baby = (
        raw.iloc[matches[1]:].reset_index(drop=True)
        if len(matches) >= 2
        else raw.iloc[0:0]
    )
    return big, baby


def build_flips_store_block(big: pd.DataFrame) -> dict[str, dict[str, str]]:
    """P12: the per-store Fob/Xdock block right of column E, stopping at
    Lot #/Total: store codes on row 4, Fob on row 1 and Xdock on row 3
    (reference :84-129)."""
    block = G.extract_block(
        big, row_range=(0, 5), col_start=4, stop_markers=["Lot #", "Total"], marker_row=4
    )
    stores = [G._clean_header(v) for v in block.iloc[4]]
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
    """Melt 2-id (U3, values parsed num-anywhere) → ceil-sum (A2) → XDCK/FOB
    map-join (J3, zero→blank) → next-MWF EDD (F10) → canonical."""
    df = _to_spark(spark, wide)
    item = next(c for c in df.columns if G._norm_name(c) == "item")
    lot = next(c for c in df.columns if G._norm_name(c) == "lot")
    long = melt(df, [item, lot], var_name="Branch", value_name="v",
                numeric_vars_only=True)
    agg = _sum_cells(long, ["Branch", item, lot], "v", out="Distro Size",
                     parse=True, ceil=True)
    agg = (
        agg.withColumnRenamed(item, "Item")
        .withColumnRenamed(lot, "Lot #")
    )
    agg = map_join(agg, store_block["xdock"], "Branch", "XDCK")
    agg = map_join(agg, store_block["fob"], "Branch", "FOB")
    agg = agg.withColumns({"XDCK": parse_money("XDCK"), "FOB": parse_money("FOB")})
    return to_canonical(
        agg, PIPELINES["flips_big"], edd=next_mwf_sql(date_lit(base_date))
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
    from etl_jetro_spark.functions.na import normalize_na_strings

    df = normalize_na_strings(_to_spark(spark, wide))
    item = next(c for c in df.columns if G._norm_name(c) == "item")
    lot = next(c for c in df.columns if G._norm_name(c) == "lot")
    ids = [item, "DESC", "pack size", lot]
    present = [c for c in ids if c in df.columns]
    df = df.filter(
        f"trim(coalesce({ident(item)}, '')) != '' AND trim(coalesce({ident(lot)}, '')) != ''"
    )
    long = melt_between(
        df, present, after=("pack size" if "pack size" in df.columns else "DESC"),
        before=lot, var_name="Store", value_name="v", numeric_vars_only=True,
    )
    # baby flip ceils PER CELL before aggregating (reference
    # baby_flip_tool.py:104-107: clean ceils the between-columns to Int64,
    # the pivot then sums) — unlike big flip, which ceils the SUM (A2)
    long = long.withColumn("v", F.expr(f"CAST(ceil({parse_money_sql(ident('v'))}) AS BIGINT)"))
    agg = _sum_cells(long, present + ["Store"], "v", out="Value", ceil=False)
    agg = agg.withColumn("Value", F.expr(f"CAST({ident('Value')} AS BIGINT)"))
    agg = agg.withColumnRenamed(item, "Item").withColumnRenamed(lot, "LOT#")
    out = agg.selectExpr(
        "*", f"explode_outer({_po_by_store_sql(po_rows)}[{ident('Store')}]) AS {ident('PO #')}"
    )
    out = map_join(out, carrier, "Store", "carrier code", normalize_keys=False, zero_to_null=False)
    pack = (
        f"try_cast({ident('pack size')} AS DOUBLE)"
        if "pack size" in present
        else "CAST(NULL AS DOUBLE)"
    )
    inv = fmt_mdy_no_pad_sql(date_lit(invoice_date)) if invoice_date else "CAST(NULL AS STRING)"
    value = ident("Value")
    return out.selectExpr(*[
        f"{e} AS {ident(name)}"
        for name, e in (
            ("Store", f"try_cast({ident('Store')} AS INT)"),
            ("PO #", ident("PO #")),
            ("Invoice Date", inv),
            ("DESC", ident("DESC")),
            ("Value", value),
            ("LOT#", ident("LOT#")),
            ("weight", f"try_cast({value} * {pack} AS BIGINT)"),
            ("pack size", pack),
            ("carrier code", ident("carrier code")),
        )
    ])
