"""Canonical order-sheet schema and derivations (SURVEY §2.2 P13–P15).

The reference emits a fixed 13-column sheet from every batch pipeline
(CANONICAL_COLS, /root/reference/247/tools/allocation_tool.py:163-166;
Phillips appends XdockCode → 14, phillips_tool.py:120-123). Per-pipeline
constants are captured in PIPELINES below — code-observed values, not
docstring claims (SURVEY §7 hard-part 6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from etl_jetro_spark.sqltext import ident, string_lit

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


_TWO_DIGITS = string_lit(r"^\d{2}$")


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


def branch_fix_sql(x: str) -> str:
    """P15: 2-digit branch → prefix '1' (86→186), then int cast.
    (ACME/tools/acme_tool.py:88-98)"""
    c = f"CAST({x} AS STRING)"
    return f"try_cast(CASE WHEN {c} RLIKE {_TWO_DIGITS} THEN concat('1', {c}) ELSE {c} END AS INT)"


def canonical_sql(cfg: PipelineConfig, edd: str, columns: dict[str, str]) -> str:
    """The canonical 13(+)-column select list (P13/P14) over a long fact
    relation, with the pipeline's constants, as one SQL text.

    ``columns`` maps each column the relation offers to its SQL text
    (``ident(name)`` for a plain column); it must give ``Branch``,
    ``Item`` and ``Distro Size``. Other given columns (e.g. a looked-up
    XDCK/FOB) win over the default blank fills — mirroring the reference's
    reindex-then-assign. ``edd`` is the SQL text of the Expected Delivery
    Date (e.g. ``functions.dates.default_edd_sql(...)``). The rows are
    unordered: the ordered sinks sort the collected table on the driver
    (``sinks.excel_sink.collect_ordered``).
    """
    exprs = {
        "Branch": branch_fix_sql(columns["Branch"]),
        "Item": f"try_cast({columns['Item']} AS BIGINT)",
        "Description": columns.get("Description", "''"),
        "Distro Size": f"try_cast({columns['Distro Size']} AS BIGINT)",
        "Supplier On Record": str(int(cfg.supplier)),
        "Expected Delivery Date": f"CAST({edd} AS DATE)",
        "WW Buyer": string_lit(cfg.buyer),
        "Warehouse": columns.get("Warehouse", "''"),
        "AdditionalXDCK": columns.get("AdditionalXDCK", "''"),
        "AmountCode": string_lit(cfg.amount_code),
        "XDCK": columns.get("XDCK", "CAST(NULL AS DOUBLE)"),
        "POSTXDCK": columns.get("POSTXDCK", "''"),
        "FOB": columns.get("FOB", "CAST(NULL AS DOUBLE)"),
    }
    exprs.update({c: columns[c] for c in cfg.extra_cols if c in columns})
    return ", ".join(f"{e} AS {ident(name)}" for name, e in exprs.items())
