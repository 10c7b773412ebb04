"""End-to-end pipeline runners: folder in → artifacts out.

Mirrors the reference notebooks' cell flow (247/247.ipynb, Flips/Flips.ipynb)
as single functions: read grids from a drop folder, clean/build on the
engine, and emit the canonical parquet(+xlsx when possible) and the
keystroke macro files. The clock is an explicit parameter everywhere.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jetro_spark.operators.sort import lot_last4_key_sql
from etl_jetro_spark.pipelines import batch as B
from etl_jetro_spark.sinks.excel_sink import (
    CANONICAL_ORDER,
    collect_ordered,
    write_canonical,
    write_parquet_dir,
)
from etl_jetro_spark.sinks.macro import render_adpo_i, render_adpo_x, render_dlpm
from etl_jetro_spark.sources.excel import (
    read_allocation_pricesheet,
    read_single_with_token,
)
from etl_jetro_spark.sqltext import date_lit, ident


def _write_text(out_dir: str, name: str, text: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w", newline="\n") as fh:
        fh.write(text)
    return path


def emit_order(
    canon: DataFrame,
    out_dir: str,
    run_date: date,
    macros: dict[str, Callable[..., tuple[str, str]]],
    name: str = "order_sheet",
) -> dict:
    """A run's ordered sinks: execute the canonical plan once (one Arrow
    collect, sorted on the driver), then write the order sheet and each
    macro in ``macros`` (manifest key → renderer) from that one table."""
    table = collect_ordered(canon, *CANONICAL_ORDER)
    manifest = {"order_sheet": write_canonical(table, out_dir, name=name)}
    for key, render in macros.items():
        manifest[key] = _write_text(out_dir, *render(table, run_date))
    return manifest


def run_247(
    spark: SparkSession,
    in_folder: str,
    out_dir: str,
    run_date: date,
    initials: str = "JS",
) -> dict:
    """The 247 batch: allocation → canonical sheet + ADPO,X macro; price →
    DLPM macro (reference 247/247.ipynb flow)."""
    alloc_grid, price_grid = read_allocation_pricesheet(in_folder)
    manifest: dict = {}
    if alloc_grid is not None:
        wide = B.clean_allocation(alloc_grid)
        canon = B.build_allocation(
            spark, wide, "247", base_date=run_date.isoformat()
        )
        manifest = emit_order(canon, out_dir, run_date, {"adpo_x": render_adpo_x})
    if price_grid is not None:
        wide = B.clean_pricesheet(price_grid)
        long = B.build_pricesheet_long(spark, wide)
        manifest["dlpm"] = _write_text(out_dir, *render_dlpm(long, initials, run_date))
    return manifest


def run_acme(
    spark: SparkSession, in_folder: str, out_dir: str, run_date: date
) -> dict:
    """ACME batch: single dock-parameterized sheet → canonical + ADPO,X."""
    grid, token = read_single_with_token(in_folder)
    wide = B.clean_acme_like(grid, leading_junk_cols=2)
    canon = B.build_acme_like(spark, wide, "acme", token, run_date.isoformat())
    return emit_order(canon, out_dir, run_date, {"adpo_x": render_adpo_x})


def run_flips_big(
    spark: SparkSession, in_folder: str, out_dir: str, run_date: date
) -> dict:
    """Flips big sub-pipeline: split → store block → canonical with
    XDCK/FOB + next-MWF EDD → order sheet + ADPO,I macro (reference
    Flips/Flips.ipynb big branch)."""
    grid, token = read_single_with_token(in_folder)
    big, _baby = B.split_big_and_baby(grid)
    block = B.build_flips_store_block(big)
    wide = B.clean_big_flip(big)
    canon = B.build_big_flip(spark, wide, block, base_date=run_date.isoformat())
    return {"token": token, **emit_order(
        canon, out_dir, run_date, {"adpo_i": render_adpo_i}, name="big_flip_order"
    )}


def run_leavins(
    spark: SparkSession,
    in_folder: str,
    out_dir: str,
    run_date: date,
    edd: date,
) -> dict:
    """Leavins batch: same shape as 247 allocation, but the EDD is a
    REQUIRED input (reference Leavins/tools/allocation_tool.py:133-134)."""
    alloc_grid, _ = read_allocation_pricesheet(in_folder)
    if alloc_grid is None:
        return {}
    wide = B.clean_allocation(alloc_grid)
    canon = B.build_allocation(
        spark, wide, "leavins", edd=date_lit(edd.isoformat())
    )
    return emit_order(canon, out_dir, run_date, {"adpo_x": render_adpo_x})


def run_southern_cross(
    spark: SparkSession, in_folder: str, out_dir: str, run_date: date
) -> dict:
    """SouthernCross IBT batch: coercion matrix + alphabetical reorder."""
    grid, _token = read_single_with_token(in_folder, sheet="IBT FORMAT")
    wide = B.clean_southern_cross(grid)
    canon = B.build_allocation(
        spark, wide, "southern_cross", base_date=run_date.isoformat()
    )
    return emit_order(canon, out_dir, run_date, {"adpo_x": render_adpo_x})


def run_flips_baby(
    spark: SparkSession,
    in_folder: str,
    po_folder: str,
    carrier_dir: str,
    out_dir: str,
) -> dict:
    """Flips baby sub-pipeline: split → melt/agg → PO + carrier joins →
    audit table (reference Flips/Flips.ipynb baby branch), executed once,
    ordered on the driver by Store then LOT# last-4 (W3) and written from
    the collected Arrow table."""
    from etl_jetro_spark.sources.csv_po import read_latest_po_csv
    from etl_jetro_spark.sources.json_dim import read_carrier_json

    grid, token = read_single_with_token(in_folder)
    _big, baby = B.split_big_and_baby(grid)
    wide = B.clean_baby_flip(baby)
    po = read_latest_po_csv(po_folder)
    carrier = read_carrier_json(token, carrier_dir)
    lot_key = F.expr(lot_last4_key_sql(ident("LOT#")))
    table = collect_ordered(B.build_baby_flip(spark, wide, po, carrier), "Store", lot_key)
    pq = os.path.join(out_dir, "baby_flip_araho.parquet")
    write_parquet_dir(table, pq)
    return {"token": token, "araho": pq, "rows": table.num_rows}
