"""End-to-end pipeline runners: folder in → artifacts out.

Mirrors the reference notebooks' cell flow (247/247.ipynb, Flips/Flips.ipynb)
as single functions: read grids from a drop folder, clean/build on the
engine, and emit the canonical parquet(+xlsx when possible) and the
keystroke macro files. The clock is an explicit parameter everywhere.
"""

from __future__ import annotations

import os
from datetime import date

from pyspark.sql import DataFrame, SparkSession

from etl_jetro_spark.pipelines import batch as B
from etl_jetro_spark.sinks.excel_sink import (
    collect_arrow,
    collect_canonical,
    write_canonical,
    write_parquet_dir,
)
from etl_jetro_spark.sinks.macro import render_adpo_x, render_dlpm
from etl_jetro_spark.sources.excel import (
    read_allocation_pricesheet,
    read_single_with_token,
)


def _write_text(out_dir: str, name: str, text: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w", newline="\n") as fh:
        fh.write(text)
    return path


def emit_order(
    canon: DataFrame,
    out_dir: str,
    run_date: date | None = None,
    name: str = "order_sheet",
) -> dict:
    """A run's ordered sinks: execute the canonical plan once (one Arrow
    collect, sorted on the driver), then write the order sheet and, given
    ``run_date``, the ADPO,X macro from that one table."""
    table = collect_canonical(canon)
    manifest = {"order_sheet": write_canonical(table, out_dir, name=name)}
    if run_date is not None:
        manifest["adpo_x"] = _write_text(out_dir, *render_adpo_x(table, run_date=run_date))
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
        manifest = emit_order(canon, out_dir, run_date)
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
    return emit_order(canon, out_dir, run_date)


def run_flips_big(
    spark: SparkSession, in_folder: str, out_dir: str, run_date: date
) -> dict:
    """Flips big sub-pipeline: split → store block → canonical with
    XDCK/FOB + next-MWF EDD."""
    grid, token = read_single_with_token(in_folder)
    big, _baby = B.split_big_and_baby(grid)
    block = B.build_flips_store_block(big)
    wide = B.clean_big_flip(big)
    canon = B.build_big_flip(spark, wide, block, base_date=run_date.isoformat())
    return {"token": token, **emit_order(canon, out_dir, name="big_flip_order")}


def run_leavins(
    spark: SparkSession,
    in_folder: str,
    out_dir: str,
    run_date: date,
    edd: date,
) -> dict:
    """Leavins batch: same shape as 247 allocation, but the EDD is a
    REQUIRED input (reference Leavins/tools/allocation_tool.py:133-134)."""
    from pyspark.sql import functions as F

    alloc_grid, _ = read_allocation_pricesheet(in_folder)
    if alloc_grid is None:
        return {}
    wide = B.clean_allocation(alloc_grid)
    canon = B.build_allocation(
        spark, wide, "leavins", edd=F.lit(edd.isoformat()).cast("date")
    )
    return emit_order(canon, out_dir, run_date)


def run_southern_cross(
    spark: SparkSession, in_folder: str, out_dir: str, run_date: date
) -> dict:
    """SouthernCross IBT batch: coercion matrix + alphabetical reorder."""
    grid, _token = read_single_with_token(in_folder)
    wide = B.clean_southern_cross(grid)
    canon = B.build_southern_cross(spark, wide, run_date.isoformat())
    return emit_order(canon, out_dir, run_date)


def run_flips_baby(
    spark: SparkSession,
    in_folder: str,
    po_folder: str,
    carrier_dir: str,
    out_dir: str,
) -> dict:
    """Flips baby sub-pipeline: split → melt/agg → PO + carrier joins →
    audit table (reference Flips/Flips.ipynb baby branch), executed once
    and written from the collected Arrow table."""
    from etl_jetro_spark.sources.csv_po import read_latest_po_csv
    from etl_jetro_spark.sources.json_dim import read_carrier_json

    grid, token = read_single_with_token(in_folder)
    _big, baby = B.split_big_and_baby(grid)
    wide = B.clean_baby_flip(baby)
    po = read_latest_po_csv(spark, po_folder).select("PO #", "Store")
    carrier = read_carrier_json(spark, token, carrier_dir)
    table = collect_arrow(B.build_baby_flip(spark, wide, po, carrier))
    pq = os.path.join(out_dir, "baby_flip_araho.parquet")
    write_parquet_dir(table, pq)
    return {"token": token, "araho": pq, "rows": table.num_rows}
