"""Canonical order-sheet schema and derivations (SURVEY §2.2 P13–P15).

The reference emits a fixed 13-column sheet from every batch pipeline
(CANONICAL_COLS, /root/reference/247/tools/allocation_tool.py:163-166;
Phillips appends XdockCode → 14, phillips_tool.py:120-123). Per-pipeline
constants are captured in PIPELINES below — code-observed values, not
docstring claims (SURVEY §7 hard-part 6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CANONICAL_COLS = [
    "Branch",
    "Item",
    "Description",
    "Distro Size",
    "Supplier On Record",
    "Expected Delivery Date",
    "WW Buyer",
    "Warehouse",
    "AdditionalXDCK",
    "AmountCode",
    "XDCK",
    "POSTXDCK",
    "FOB",
]


@dataclass(frozen=True)
class PipelineConfig:
    """Per-supplier constants, as observed in the reference code."""

    name: str
    supplier: int
    buyer: str
    amount_code: str = ""
    warehouse_from_dock: bool = False  # Phillips keeps dock as Warehouse
    extra_cols: tuple[str, ...] = ()   # Phillips: ('XdockCode',)
    docks_by_token: dict[str, tuple[int, ...]] = field(default_factory=dict)


PIPELINES: dict[str, PipelineConfig] = {
    # 247/tools/allocation_tool.py:123-156
    "247": PipelineConfig("247", 81214, "P2E"),
    # ACME/tools/acme_tool.py:25-41,62-100 — dock sets as CODED (il/fl)
    "acme": PipelineConfig(
        "acme", 44602, "P20", docks_by_token={"il": (189, 436), "fl": (407, 499)}
    ),
    # Phillips/tools/phillips_tool.py:25-45,69-123
    "phillips": PipelineConfig(
        "phillips",
        53459,
        "P20",
        warehouse_from_dock=True,
        extra_cols=("XdockCode",),
        docks_by_token={"436": (436,), "407": (407,), "189": (189,), "499": (499,)},
    ),
    # SouthernCross/tools/southern_cross_tool.py:183-221
    "southern_cross": PipelineConfig("southern_cross", 80104, "P2M"),
    # Leavins/tools/allocation_tool.py:115-146 (EDD required, no default)
    "leavins": PipelineConfig("leavins", 79906, "P2M"),
    # Flips/tools/big_flip_tool.py:273-280
    "flips_big": PipelineConfig("flips_big", 20000, "P20", amount_code="W"),
}


def branch_fix(col: str | Column) -> Column:
    """P15: 2-digit branch → prefix '1' (86→186), then int cast.
    (ACME/tools/acme_tool.py:88-98)"""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    fixed = F.when(c.rlike(r"^\d{2}$"), F.concat(F.lit("1"), c)).otherwise(c)
    return fixed.try_cast("int")


def to_canonical(
    df: DataFrame,
    cfg: PipelineConfig,
    edd: Column,
    branch: str = "Branch",
    item: str = "Item",
    qty: str = "Distro Size",
) -> DataFrame:
    """Project a long fact table (branch, item, qty[, extras]) onto the
    canonical 13(+)-column schema with the pipeline's constants (P13/P14).

    Columns already present on ``df`` (e.g. a joined XDCK/FOB) win over the
    default blank fills — mirroring the reference's reindex-then-assign.
    The result is unordered: the ordered sinks sort the collected table on
    the driver (``sinks.excel_sink.collect_canonical``).
    """
    existing = set(df.columns)
    out = df.withColumns(
        {
            "Branch": branch_fix(branch),
            "Item": F.col(item).try_cast("long"),
            "Distro Size": F.col(qty).try_cast("long"),
            "Supplier On Record": F.lit(cfg.supplier),
            "Expected Delivery Date": edd.cast("date"),
            "WW Buyer": F.lit(cfg.buyer),
            "AmountCode": F.lit(cfg.amount_code),
        }
    )
    fills: dict[str, Column] = {}
    for c in ("Description", "AdditionalXDCK", "POSTXDCK"):
        if c not in existing:
            fills[c] = F.lit("")
    if "Warehouse" not in existing:
        fills["Warehouse"] = F.lit("")
    for c in ("XDCK", "FOB"):
        if c not in existing:
            fills[c] = F.lit(None).cast("double")
    if fills:
        out = out.withColumns(fills)
    cols = CANONICAL_COLS + [c for c in cfg.extra_cols if c in out.columns]
    return out.select(*cols)
