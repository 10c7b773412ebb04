"""Full folder-in → artifacts-out runs (the reference notebook flows)."""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from datetime import date

import pandas as pd
import pytest

from etl_jetro_spark.pipelines import runner as R
from etl_jetro_spark.pipelines.runner import run_247, run_acme

RUN_DATE = date(2026, 1, 6)


def _write_grid(path, rows) -> None:
    pd.DataFrame(rows).to_csv(path, index=False, header=False)


def _drop_247(drop) -> None:
    drop.mkdir()
    _write_grid(
        drop / "allocation 0813.csv",
        [
            ["junk", "", "", "", ""],
            ["Item#", "Item Description", "114", "86", "Total"],
            ["12345", "w", "3", "2", "5"],
            ["TOTALS", "", "3", "2", "5"],
        ],
    )
    _write_grid(
        drop / "price 0813.csv",
        [
            ["junk", "", "", ""],
            ["Item#", "Item Name", "114", "490"],
            ["12345", "w", "2.50", "3.00"],
        ],
    )


def _drop_acme(drop) -> None:
    drop.mkdir()
    _write_grid(
        drop / "acme il 0813.csv",
        [
            ["x", "y", "dock", "Branch", "Item", "Description", "Distro Size"],
            ["a", "b", "189", "86", "1001", "d", "5"],
            ["a", "b", "407", "88", "1002", "d", "5"],
        ],
    )


def _drop_247_edges(drop) -> None:
    """1-, 2- and 3-digit stores plus a fractional one (numeric-first order
    differs from text order; '449.5' is a NULL Branch in the canonical
    table), a blank Item (NULL) and a non-numeric quantity cell."""
    drop.mkdir()
    _write_grid(
        drop / "allocation 0106.csv",
        [
            ["junk", "", "", "", "", "", ""],
            ["Item#", "Item Description", "114", "86", "9", "449.5", "Total"],
            ["12345", "w", "3", "2", "1", "4", "10"],
            ["777", "w", "", "1", "2", "x", "3"],
            ["", "w", "1", "1", "1", "1", "4"],
            ["TOTALS", "", "", "", "", "", ""],
        ],
    )
    _write_grid(
        drop / "price 0106.csv",
        [
            ["junk", "", "", "", "", "", ""],
            ["Item#", "Item Name", "114", "86", "9", "490", "449.5"],
            ["12345", "w", "2.50", "1.00", "3.00", "3.00", "4.25"],
            ["777", "w", "1.10", "", "0", "2.00", "1"],
        ],
    )


def test_run_247_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    out = tmp_path / "out"
    _drop_247(drop)

    manifest = run_247(spark, str(drop), str(out), date(2026, 8, 13), initials="AB")
    assert manifest["order_sheet"]["rows"] == 2
    assert os.path.exists(manifest["order_sheet"]["parquet"])
    adpo = open(manifest["adpo_x"]).read()
    assert 'type "adpo,x"' in adpo and "-0990033" in adpo
    assert "Type  114-0012345" in adpo
    dlpm = open(manifest["dlpm"]).read()
    # store 490 remapped to 498 in the price path
    assert "Type 498-0012345" in dlpm and "Type 2.50" in dlpm

    back = spark.read.parquet(manifest["order_sheet"]["parquet"])
    got = {(r["Branch"], r["Item"]): r["Distro Size"] for r in back.collect()}
    assert got == {(114, 12345): 3, (186, 12345): 2}


def test_run_acme_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    out = tmp_path / "out"
    _drop_acme(drop)
    manifest = run_acme(spark, str(drop), str(out), date(2026, 8, 13))
    back = spark.read.parquet(manifest["order_sheet"]["parquet"])
    rows = back.collect()
    assert len(rows) == 1 and rows[0]["Branch"] == 186  # fl dock filtered out


# --------------------------------------------------------------------------
# Golden outputs: every artifact of the six runners on seeded drop folders
# --------------------------------------------------------------------------

def _fixture_drops(root, sf_dir: str) -> dict[str, tuple]:
    """Drop folders from the ``plans.fixtures`` grids. Returns
    {case: (runner name, drop folder, extra runner args)}."""
    from etl_jetro_spark.plans import fixtures as FX

    def folder(name):
        p = root / name
        p.mkdir()
        return p

    alloc = FX.allocation_grid(sf_dir).values.tolist()
    d247 = folder("fx_247")
    _write_grid(d247 / "allocation 0106.csv", alloc)
    _write_grid(d247 / "price 0106.csv", FX.pricesheet_grid(sf_dir).values.tolist())
    dleav = folder("fx_leavins")
    _write_grid(dleav / "allocation 0106.csv", alloc)
    dacme = folder("fx_acme")
    _write_grid(dacme / "acme il 0106.csv", FX.acme_grid(sf_dir).values.tolist())
    dsc = folder("fx_southern_cross")
    _write_grid(dsc / "ibt 0106.csv", FX.southern_cross_grid(sf_dir).values.tolist())

    big = FX.big_flip_grid(sf_dir).values.tolist()
    baby = FX.baby_flip_grid(sf_dir).values.tolist()
    sentinel = ["", "", "", "Total Weight"] + [""] * (len(big[0]) - 4)
    dflips = folder("fx_flips")
    _write_grid(dflips / "flips salmon 0106.csv", big + [sentinel] + baby)
    po, carrier = folder("fx_flips_po"), folder("fx_flips_carrier")
    (po / "po.csv").write_text(
        "".join(f"{s}-{7000 + k}\n" for k, s in enumerate(FX.BABY_STORES))
    )
    (carrier / "salmon_carrier.json").write_text(
        json.dumps({s: f"C{k}" for k, s in enumerate(FX.BABY_STORES)})
    )
    return {
        "fx_247": ("run_247", d247, (RUN_DATE,)),
        "fx_leavins": ("run_leavins", dleav, (RUN_DATE, date(2026, 1, 9))),
        "fx_acme": ("run_acme", dacme, (RUN_DATE,)),
        "fx_southern_cross": ("run_southern_cross", dsc, (RUN_DATE,)),
        "fx_flips_big": ("run_flips_big", dflips, (RUN_DATE,)),
        "fx_flips_baby": ("run_flips_baby", dflips, (str(po), str(carrier))),
    }


def _sha(obj) -> str:
    data = obj if isinstance(obj, bytes) else repr(obj).encode()
    return hashlib.sha256(data).hexdigest()[:16]


def _lot_last4(lot: str | None) -> int:
    """``operators.sort.lot_last4_key`` for a LOT# text."""
    m = re.search(r"(\d+)\D*$", lot or "")
    return int(m.group(1)[-4:]) if m else 10**9


def _artifact_digests(manifest: dict) -> dict[str, str]:
    """sha256 prefixes of the macro files (name + bytes), the parquet rows,
    its Arrow schema with nullability, and the xlsx ``Scripting`` cells.

    Canonical rows are taken in file order, which the driver-side sort
    fixes. The baby-flip table is sorted in Spark by (Store, LOT# last-4),
    whose ties have no defined order, so its rows are compared as a
    multiset and its file order is checked against that key."""
    import pyarrow.parquet as pq

    from etl_jetro_spark.sources.xlsx import read_xlsx_grid

    out = {}
    for key in ("adpo_x", "dlpm"):
        if key in manifest:
            with open(manifest[key], "rb") as fh:
                out[key] = _sha(os.path.basename(manifest[key]).encode() + fh.read())
    sheet = manifest.get("order_sheet")
    table = pq.read_table(sheet["parquet"] if sheet else manifest["araho"])
    rows = table.to_pylist()
    if not sheet:
        keys = [(r["Store"], _lot_last4(r["LOT#"])) for r in rows]
        assert keys == sorted(keys)
        rows.sort(key=repr)
    out["rows"] = _sha(rows)
    out["schema"] = _sha([(f.name, str(f.type), f.nullable) for f in table.schema])
    if sheet:
        out["xlsx"] = _sha(read_xlsx_grid(sheet["xlsx"], sheet="Scripting").values.tolist())
    return out


def _adpo_i_digest(parquet: str) -> str:
    import pyarrow.parquet as pq

    from etl_jetro_spark.sinks.macro import render_adpo_i

    name, text = render_adpo_i(pq.read_table(parquet), RUN_DATE)
    return _sha(name.encode() + text.encode())


def run_golden_cases(spark, root, sf_dir: str) -> dict[str, dict[str, str]]:
    root.mkdir(parents=True, exist_ok=True)
    cases = {
        "runner_247": ("run_247", root / "runner_247", (RUN_DATE,)),
        "runner_acme": ("run_acme", root / "runner_acme", (RUN_DATE,)),
        "runner_247_edges": ("run_247", root / "runner_247_edges", (RUN_DATE,)),
    }
    _drop_247(cases["runner_247"][1])
    _drop_acme(cases["runner_acme"][1])
    _drop_247_edges(cases["runner_247_edges"][1])
    cases.update(_fixture_drops(root, sf_dir))
    got = {}
    for case, (fn, drop, extra) in cases.items():
        out = str(root / "out" / case)
        if fn == "run_flips_baby":
            manifest = R.run_flips_baby(spark, str(drop), *extra, out)
        else:
            manifest = getattr(R, fn)(spark, str(drop), out, *extra)
        got[case] = _artifact_digests(manifest)
        if fn == "run_flips_big":  # no runner emits ADPO,I; render it from the sheet
            got[case]["adpo_i"] = _adpo_i_digest(manifest["order_sheet"]["parquet"])
    return got


# Recorded from the runners when the sinks and macro renderers still sorted
# and collected the canonical table in Spark (one execution per artifact).
GOLDEN = {
    "runner_247": {
        "adpo_x": "8dda8704540be4f9",
        "dlpm": "18ffea0bca907d89",
        "rows": "5fd6b5208535d6ec",
        "schema": "84b96d5471234203",
        "xlsx": "ca86415fd4f73c5c",
    },
    "runner_acme": {
        "adpo_x": "37e1a03d6ad52eee",
        "rows": "6aa777383d490499",
        "schema": "3f81387ac547bef0",
        "xlsx": "12d456776c9d6b27",
    },
    "runner_247_edges": {
        "adpo_x": "7393425661cc6cf4",
        "dlpm": "1aee23fd2b3479a2",
        "rows": "32125f07dc6a86c7",
        "schema": "84b96d5471234203",
        "xlsx": "7b06005be16199c0",
    },
    "fx_247": {
        "adpo_x": "c2eedfd2abc00714",
        "dlpm": "c8cda34f4383d709",
        "rows": "f4554404eea06dd8",
        "schema": "84b96d5471234203",
        "xlsx": "0c2421188cc85661",
    },
    "fx_leavins": {
        "adpo_x": "8947071634e0693f",
        "rows": "684204116bc8cce8",
        "schema": "84b96d5471234203",
        "xlsx": "d3277eb7a209ce30",
    },
    "fx_acme": {
        "adpo_x": "251715abd797855c",
        "rows": "b1482f98daa1e13d",
        "schema": "c66ca8fcb3f1afd3",
        "xlsx": "a1b81129238fc47e",
    },
    "fx_southern_cross": {
        "adpo_x": "a0da4ca5f75f0872",
        "rows": "0b685fa404ddfab6",
        "schema": "84b96d5471234203",
        "xlsx": "6a8120b2e9eed08f",
    },
    "fx_flips_big": {
        "adpo_i": "70bdedbcd2d126c1",
        "rows": "6415244c5569ed6b",
        "schema": "84b96d5471234203",
        "xlsx": "ca718559fde54b5c",
    },
    "fx_flips_baby": {
        "rows": "9c6cfde76a6601b3",
        "schema": "b1fc332af26b197c",
    },
}


def test_golden_artifacts_unchanged(spark, tmp_path, sf_dir):
    assert run_golden_cases(spark, tmp_path, sf_dir) == GOLDEN


def _jobs_fired(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "fn,drop,max_jobs",
    [(run_acme, _drop_acme, 1), (run_247, _drop_247, 3)],
    ids=["acme", "247"],
)
def test_one_execution_per_artifact_table(spark, tmp_path, fn, drop, max_jobs):
    """The canonical table runs once (one Arrow collect), the price sheet
    once more: ACME fires exactly one job, 247 at most three (the
    allocation's aggregation adds a shuffle-map job under AQE). A first,
    uncounted run keeps session warm-up out of the count."""
    drop(tmp_path / "drop")
    fn(spark, str(tmp_path / "drop"), str(tmp_path / "warm"), RUN_DATE)
    jobs = _jobs_fired(spark, lambda: fn(spark, str(tmp_path / "drop"), str(tmp_path / "out"), RUN_DATE))
    assert 1 <= jobs <= max_jobs
