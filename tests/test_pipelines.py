"""End-to-end pipeline tests on FIXTURES.md-shaped synthetic grids."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_jetro_spark.operators.canonical import CANONICAL_COLS
from etl_jetro_spark.pipelines import batch as P
from etl_jetro_spark.sqltext import date_lit


def grid_from_rows(rows: list[list]) -> pd.DataFrame:
    """A positional grid from in-memory rows, short rows padded with None."""
    width = max((len(r) for r in rows), default=0)
    return pd.DataFrame([list(r) + [None] * (width - len(r)) for r in rows])


@pytest.fixture()
def allocation_grid():
    # FIXTURES.md §1: junk row, header in row 1 (stores with .0), footer row
    return grid_from_rows(
        [
            ["junk", "", "", "", "", ""],
            ["Item#", "Item Description", "114", "449.0", "86", "Total"],
            ["12345", "widget a", "3", "", "2", "5"],
            ["67890", "widget b", "0", "4", "x", "4"],
            ["TOTALS", "", "3", "4", "2", "9"],
        ]
    )


def test_247_allocation_e2e(spark, allocation_grid):
    wide = P.clean_allocation(allocation_grid)
    assert list(wide.columns) == ["Item#", "114", "449", "86"]
    assert len(wide) == 2
    out = P.build_allocation(spark, wide, "247", base_date="2026-08-13")
    assert out.columns == CANONICAL_COLS
    rows = {(r["Branch"], r["Item"]): r for r in out.collect()}
    # 86 is 2-digit -> 186; 'x' coerces to 0 and is dropped with the zero rule
    assert rows[(114, 12345)]["Distro Size"] == 3
    assert rows[(186, 12345)]["Distro Size"] == 2
    assert rows[(449, 67890)]["Distro Size"] == 4
    assert (114, 67890) not in rows  # zero dropped
    r = rows[(114, 12345)]
    assert r["Supplier On Record"] == 81214 and r["WW Buyer"] == "P2E"
    # EDD: 2026-08-13 Thu +2 = Sat -> Monday
    assert str(r["Expected Delivery Date"]) == "2026-08-17"


def test_leavins_requires_edd(spark, allocation_grid):
    wide = P.clean_allocation(allocation_grid)
    with pytest.raises(ValueError, match="leavins"):
        P.build_allocation(spark, wide, "leavins")
    out = P.build_allocation(
        spark, wide, "leavins", edd=date_lit("2026-09-01")
    )
    assert out.collect()[0]["Supplier On Record"] == 79906


def test_247_pricesheet_e2e(spark):
    grid = grid_from_rows(
        [
            ["junk"],
            ["Item#", "Item Name", "FOB", "490", "457", "512", "512"],
            ["111", "thing", "1.0", "$2.50", "9", "0", "3.25"],
            ["0", "zero item", "", "1", "1", "1", "1"],
            ["222", "other", "", "", "4", "1.5", ""],
        ]
    )
    wide = P.clean_pricesheet(grid)
    # duplicate '512' header deduped; zero Item# row dropped
    assert list(wide.columns) == ["Item#", "490", "457", "512", "512.1"]
    assert len(wide) == 2
    long = P.build_pricesheet_long(spark, wide)
    got = {(r["Store#"], r["Item#"]): r["Cost"] for r in long.collect()}
    # 490 remapped to 498; 457 excluded; zero cost dropped
    assert got[("498", "111")] == 2.50
    assert ("457", "111") not in got
    assert got[("512", "222")] == 1.5
    assert all(r["Vendor#"] == 81214 for r in long.collect())


ACME_ROWS = [
    ["x", "y", "dock", "Branch", "Item", "Description", "Distro Size", "junk"],
    ["a", "b", "189", "86", "1001", "d1", "5", "z"],
    ["a", "b", "436", "402", "1002", "d2", "0", "z"],
    ["a", "b", "436", "403", "1005", "d5", "oops", "z"],
    ["a", "b", "407", "401", "1003", "d3", "7", "z"],
    ["a", "b", "499", "88", "1004", "d4", "2", "z"],
]


def test_acme_dock_filter_e2e(spark):
    grid = grid_from_rows(ACME_ROWS)
    wide = P.clean_acme_like(grid, leading_junk_cols=2)
    assert list(wide.columns) == ["dock", "Branch", "Item", "Description", "Distro Size"]
    out = P.build_acme_like(spark, wide, "acme", "acme il 08.13", "2026-08-10")
    rows = {r["Branch"]: r for r in out.collect()}
    # il -> docks {189,436}; the zero-distro 436 row drops, but the
    # NON-NUMERIC distro row is KEPT (reference ne(0) semantics)
    assert set(rows) == {186, 403}
    assert rows[186]["Supplier On Record"] == 44602
    assert rows[186]["WW Buyer"] == "P20"
    with pytest.raises(ValueError, match="dock sets"):
        P.build_acme_like(spark, wide, "acme", "acme mystery", "2026-08-10")


def test_phillips_keeps_warehouse(spark):
    grid = grid_from_rows([r[1:] for r in ACME_ROWS])  # phillips: 1 junk col
    wide = P.clean_acme_like(grid, leading_junk_cols=1)
    out = P.build_acme_like(spark, wide, "phillips", "phillips 407", "2026-08-10")
    r = out.collect()
    assert len(r) == 1 and r[0]["Branch"] == 401
    assert r[0]["Warehouse"] == "407"
    assert out.columns == CANONICAL_COLS + ["XdockCode"]


def test_southern_cross_e2e(spark):
    grid = grid_from_rows(
        [
            ["Item", "Description", "449.00", "114", "LOT #", "junk"],
            ["555", "d", "12.0", "", "L1", "x"],
            ["0", "zero", "1", "1", "L2", "x"],
            ["777", "d", "2.5", "3", "L3", "x"],
        ]
    )
    wide = P.clean_southern_cross(grid)
    assert list(wide.columns) == ["Item", "114", "449"]  # alpha ci, Item pinned
    out = P.build_allocation(spark, wide, "southern_cross", base_date="2026-08-10")
    rows = {(r["Branch"], r["Item"]): r["Distro Size"] for r in out.collect()}
    assert rows[(449, 555)] == 12 and rows[(114, 777)] == 3 and rows[(449, 777)] == 2
    assert all(r["Supplier On Record"] == 80104 for r in out.collect())


FLIPS_GRID = [
    # big region: rows 0-3 = Fob/Xdock store block (cols E..), row 4 =
    # header (cols 1-3 are junk the clean drops positionally), items below
    ["", "", "", "", "Fob", "", "", ""],
    ["", "", "", "", "$10.00", "$20.00", "", ""],
    ["", "", "", "", "Xdock", "", "", ""],
    ["", "", "", "", "1.50", "0", "", ""],
    ["Item", "x", "y", "z", "114", "86", "Lot #", "Total"],
    ["1001", "", "", "", "2.2", "", "498-1 1234", "2.2"],
    ["1002", "", "", "", "1", "3", "498-2 5678", "4"],
    ["", "", "", "Total Weight", "", "", "", ""],
    # baby region from the SECOND 'Item' row (junk col 1 is NAMED — real
    # sheets carry junk headers, so it survives the bad-header drop and
    # the desc column is 3rd at DESC-rename time)
    ["Item", "j", "widget desc", "pack size", "114", "86", "Wgt", "Total", "Lot #"],
    ["2001", "x", "da", "6", "1.2", "na", "9", "1.2", "498-68594 39024"],
    ["2002", "x", "db", "4", "", "2", "9", "2", "498-68594 38999"],
]


def test_flips_split_and_store_block():
    big, baby = P.split_big_and_baby(grid_from_rows(FLIPS_GRID))
    assert len(big) == 7 and str(baby.iat[0, 0]) == "Item"
    block = P.build_flips_store_block(big)
    assert block["fob"]["114"] == "$10.00" and block["xdock"]["114"] == "1.50"
    assert block["xdock"]["86"] == "0"


def test_big_flip_e2e(spark):
    big, _ = P.split_big_and_baby(grid_from_rows(FLIPS_GRID))
    block = P.build_flips_store_block(big)
    wide = P.clean_big_flip(big)
    out = P.build_big_flip(spark, wide, block, base_date="2026-08-13")  # Thu
    rows = {(r["Branch"], r["Item"]): r for r in out.collect()}
    assert rows[(114, 1001)]["Distro Size"] == 3  # ceil(2.2)
    assert rows[(186, 1002)]["Distro Size"] == 3
    # J3 map join with zero→blank: store 114 xdock 1.5, store 86 xdock blank
    assert rows[(114, 1001)]["XDCK"] == 1.5
    assert rows[(186, 1002)]["XDCK"] is None
    assert rows[(114, 1001)]["FOB"] == 10.0
    # next MWF after Thursday = Friday
    assert str(rows[(114, 1001)]["Expected Delivery Date"]) == "2026-08-14"
    assert rows[(114, 1001)]["AmountCode"] == "W"


def test_baby_flip_e2e(spark):
    _, baby = P.split_big_and_baby(grid_from_rows(FLIPS_GRID))
    wide = P.clean_baby_flip(baby)
    assert "DESC" in wide.columns and "Wgt" not in wide.columns
    po = [("78-2001", "114", "2001")]
    # a JSON number is rendered as the string a JSON reader would give
    carrier = {"114": 8, "86": "3"}
    out = P.build_baby_flip(spark, wide, po, carrier, invoice_date="2026-08-13")
    # the reference's exact output schema
    assert out.columns == [
        "Store", "PO #", "Invoice Date", "DESC", "Value", "LOT#",
        "weight", "pack size", "carrier code",
    ]
    rows = {(r["Store"], r["DESC"]): r for r in out.collect()}
    # 'na' cell normalized to NULL -> 0 -> dropped by ≠0 rule
    assert (86, "da") not in rows
    r = rows[(114, "da")]
    assert r["Value"] == 2  # ceil(1.2) per cell
    assert r["PO #"] == "78-2001" and r["carrier code"] == "8"
    assert r["weight"] == 12  # 2 * pack 6, Int64 semantics
    assert r["Invoice Date"] == "8/13/2026"  # M/d/yyyy no leading zeros
    r2 = rows[(86, "db")]
    assert r2["PO #"] is None and r2["carrier code"] == "3"

    # the PO join keeps a left join's multiplicity: two PO lines for 114
    # give two rows, 86 has none and keeps one row with a NULL PO #; a PO
    # for a store the sheet lacks adds nothing. The carrier lookup is on
    # the exact key, and a "0" code stays "0".
    po = [("78-2001", "114", "2001"), ("78-2002", "114", "2002"), ("78-9", "999", "9")]
    out = P.build_baby_flip(spark, wide, po, {"86": "0", "114 ": "5"})
    got = sorted((r["Store"], r["PO #"] or "", r["carrier code"]) for r in out.collect())
    assert got == [(86, "", "0"), (114, "78-2001", None), (114, "78-2002", None)]
    # an empty PO file: every row is kept with a NULL PO #
    out = P.build_baby_flip(spark, wide, [], {})
    got = sorted((r["Store"], r["PO #"], r["carrier code"]) for r in out.collect())
    assert got == [(86, None, None), (114, None, None)]


def test_pipeline_fixture_queries_smoke(spark, sf_dir):
    """The oracle-gated pipeline queries (q47-q53) produce canonical
    shapes on the real testdata-derived grids."""
    from etl_jetro_spark.operators.canonical import CANONICAL_COLS
    from etl_jetro_spark.plans import queries as Q

    out = Q.QUERIES["q47_pipeline_247_allocation"](spark, sf_dir)
    assert out.columns == CANONICAL_COLS
    assert out.count() > 0
    phillips = Q.QUERIES["q50_pipeline_phillips"](spark, sf_dir)
    assert phillips.columns == CANONICAL_COLS + ["XdockCode"]
    baby = Q.QUERIES["q53_pipeline_baby_flip"](spark, sf_dir)
    rows = baby.collect()
    assert rows and all(
        r["weight"] == r["Value"] * r["pack size"] for r in rows
    )


def test_allocation_missing_total_marker(spark):
    """Sheets without a 'Total' column slice nothing and still run."""
    grid = grid_from_rows(
        [
            ["junk", "", ""],
            ["Item#", "Item Description", "114"],
            ["12345", "w", "2"],
            ["TOTALS", "", "2"],
        ]
    )
    wide = P.clean_allocation(grid)
    assert list(wide.columns) == ["Item#", "114"]
    out = P.build_allocation(spark, wide, "247", base_date="2026-08-10")
    assert out.count() == 1


def test_allocation_all_zero_rows_yields_empty_canonical(spark):
    grid = grid_from_rows(
        [
            ["junk", "", "", ""],
            ["Item#", "Item Description", "114", "Total"],
            ["12345", "w", "0", "0"],
            ["TOTALS", "", "0", "0"],
        ]
    )
    out = P.build_allocation(spark, P.clean_allocation(grid), "247", base_date="2026-08-10")
    assert out.count() == 0
    assert out.columns == CANONICAL_COLS  # schema stable even when empty


def test_flips_split_without_sentinels():
    """A sheet with no 'Total Weight' and a single 'Item' row: big region
    is the whole sheet, baby region empty."""
    grid = grid_from_rows(
        [
            ["Item", "x", "y", "Lot #", "114"],
            ["1001", "", "", "L1", "2"],
        ]
    )
    big, baby = P.split_big_and_baby(grid)
    assert len(big) == 2 and len(baby) == 0
