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
from tests.conftest import py4j_commands

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
    fixes. The baby-flip table is ordered by (Store, LOT# last-4), whose
    ties have no defined order, so its rows are compared as a multiset and
    its file order is checked against that key."""
    import pyarrow.parquet as pq

    from etl_jetro_spark.sources.xlsx import read_xlsx_grid

    out = {}
    for key in ("adpo_x", "adpo_i", "dlpm"):
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


def _golden_cases(root, sf_dir: str) -> dict[str, tuple]:
    """Every golden case's drop folder, built under ``root``. Returns
    {case: (runner name, drop folder, extra runner args)}."""
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
    return cases


def _run_case(spark, fn: str, drop, extra: tuple, out: str) -> dict:
    if fn == "run_flips_baby":
        return R.run_flips_baby(spark, str(drop), *extra, out)
    return getattr(R, fn)(spark, str(drop), out, *extra)


def run_golden_cases(spark, root, sf_dir: str) -> dict[str, dict[str, str]]:
    got = {}
    for case, (fn, drop, extra) in _golden_cases(root, sf_dir).items():
        manifest = _run_case(spark, fn, drop, extra, str(root / "out" / case))
        got[case] = _artifact_digests(manifest)
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


def _typed_cell(s: str) -> int | str:
    """A CSV cell as a workbook cell: a number where the text is a plain
    integer, else the text."""
    try:
        return int(s) if str(int(s)) == s else s
    except ValueError:
        return s


def _xlsx_drop(drop, xdrop, sheet: str | None) -> None:
    """``drop``'s CSV sheets rewritten as workbooks in ``xdrop``, each with
    an Excel ``~$`` lock file beside it. Given ``sheet``, the grid goes on
    that tab behind an active cover sheet."""
    from etl_jetro_spark.sources.excel import grid_from_csv
    from tests.oracles import write_rows_xlsx

    xdrop.mkdir()
    for path in sorted(drop.glob("*.csv")):
        rows = [[_typed_cell(v) for v in r] for r in grid_from_csv(str(path)).values.tolist()]
        sheets = {"Sheet1": rows} if sheet is None else {"Cover": [["see next tab"]], sheet: rows}
        name = f"{path.stem}.xlsx"
        write_rows_xlsx(str(xdrop / name), sheets, active=0)
        (xdrop / f"~${name}").write_bytes(b"lock")


@pytest.mark.parametrize("case", list(GOLDEN))
def test_xlsx_drop_gives_golden_artifacts(spark, tmp_path, sf_dir, case):
    """A drop of ``.xlsx`` workbooks, typed cells and lock files included,
    gives the same artifacts as its CSV drop; Southern Cross reads its
    ``IBT FORMAT`` tab, not the active cover sheet."""
    fn, drop, extra = _golden_cases(tmp_path / "csv", sf_dir)[case]
    xdrop = tmp_path / "xlsx"
    _xlsx_drop(drop, xdrop, "IBT FORMAT" if fn == "run_southern_cross" else None)
    manifest = _run_case(spark, fn, xdrop, extra, str(tmp_path / "out"))
    assert _artifact_digests(manifest) == GOLDEN[case]


def test_runners_compile_without_codegen_fallback(spark, tmp_path, sf_dir):
    """Every supplier plan compiles under whole-stage codegen. With
    ``spark.sql.codegen.fallback=false`` a generated-code compile error
    fails the query instead of silently running it interpreted (the
    Expand-based melt did that on the 247 and Flips baby runs). The six
    runners still produce the golden artifacts."""
    key = "spark.sql.codegen.fallback"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = run_golden_cases(spark, tmp_path, sf_dir)
    finally:
        spark.conf.set(key, before)
    assert got == GOLDEN


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


def _exchanges(plan: str) -> list[str]:
    """Lines of an executed plan that hold an Exchange (a shuffle or a
    broadcast)."""
    return [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]


@pytest.mark.parametrize(
    "case,max_jobs",
    [
        ("runner_acme", 1),
        ("runner_247", 2),
        ("fx_leavins", 1),
        ("fx_southern_cross", 1),
        ("fx_flips_big", 1),
        ("fx_flips_baby", 1),
    ],
    ids=["acme", "247", "leavins", "southern_cross", "flips_big", "flips_baby"],
)
def test_one_execution_per_artifact_table(spark, tmp_path, sf_dir, monkeypatch, case, max_jobs):
    """Each plan runs once (one Arrow collect, ordered on the driver) and
    holds no Exchange: a sheet's cells are summed as one partition, and
    Flips baby's PO and carrier dimensions ride in its plan as map
    literals, so nothing shuffles or broadcasts. Every run fires one job
    but 247, which fires two (allocation and price sheet). A first,
    uncounted run keeps session warm-up out of the count."""
    from etl_jetro_spark.sinks import excel_sink

    fn, drop, extra = _golden_cases(tmp_path, sf_dir)[case]
    _run_case(spark, fn, drop, extra, str(tmp_path / "warm"))
    plans = []
    collect = excel_sink.collect_arrow

    def recording(df):
        table = collect(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return table

    monkeypatch.setattr(excel_sink, "collect_arrow", recording)
    jobs = _jobs_fired(spark, lambda: _run_case(spark, fn, drop, extra, str(tmp_path / "out")))
    assert 1 <= jobs <= max_jobs
    assert plans and all(_exchanges(p) == [] for p in plans), plans


# Py4J commands a warm run sends, as measured: each build is one
# ``spark.sql`` statement (247 builds two plans and DLPM collects its own)
PY4J_BUDGET = {
    "fx_247": 124,
    "fx_leavins": 56,
    "fx_acme": 56,
    "fx_southern_cross": 56,
    "fx_flips_big": 56,
    "fx_flips_baby": 70,
}


@pytest.mark.parametrize("case", list(PY4J_BUDGET))
def test_warm_run_py4j_budget(spark, tmp_path, sf_dir, monkeypatch, case):
    """A warm run builds each plan as one SQL statement, so it sends a
    small, data-independent number of Py4J commands: the measured count,
    where one DataFrame call per build step cost 72–188 and one ``F.*``
    call per expression node 474–1,222. A first, uncounted run keeps
    session warm-up out of the count."""
    fn, drop, extra = _golden_cases(tmp_path, sf_dir)[case]
    _run_case(spark, fn, drop, extra, str(tmp_path / "warm"))
    sent = py4j_commands(monkeypatch, lambda: _run_case(spark, fn, drop, extra, str(tmp_path / "out")))
    assert sent <= PY4J_BUDGET[case], sent


def _drop_braces(drop, po, carrier) -> None:
    """A Flips drop whose baby sheet has a brace in a store-range header
    and a cell, with a brace in each PO number and carrier value."""
    drop.mkdir()
    _write_grid(
        drop / "flips salmon 0106.csv",
        [
            ["", "", "", "", "Fob", "", ""],
            ["", "", "", "", "$1", "", ""],
            ["", "", "", "", "Xdock", "", ""],
            ["", "", "", "", "1", "", ""],
            ["Item", "x", "y", "z", "114", "Lot #", "Total"],
            ["1001", "", "", "", "2", "498-1 1234", "2"],
            ["", "", "", "Total Weight", "", "", ""],
            ["Item", "j", "widget desc", "pack size", "114", "{store}", "86", "Lot #"],
            ["2001", "x", "d{a}", "6", "1.2", "7", "2", "498-68594 39024"],
        ],
    )
    po.mkdir()
    (po / "po.csv").write_text("114-7{0}\n86-{8}\n")
    carrier.mkdir()
    (carrier / "salmon_carrier.json").write_text(json.dumps({"114": "C{1}", "86": "}"}))


def test_braces_in_a_drop(spark, tmp_path):
    """``spark.sql`` formats a build's text with ``str.format``, and a
    header, PO number or carrier value from a drop lands in that text:
    braces in each still give the expected rows. The run leaves no
    temporary view behind."""
    drop, po, carrier = tmp_path / "drop", tmp_path / "po", tmp_path / "carrier"
    _drop_braces(drop, po, carrier)
    # compared with the tables before the run: a catalog sweep sharing
    # this session may have registered views of its own
    before = spark.catalog.listTables()
    manifest = R.run_flips_baby(spark, str(drop), str(po), str(carrier), str(tmp_path / "out"))
    assert spark.catalog.listTables() == before
    import pyarrow.parquet as pq

    got = pq.read_table(manifest["araho"]).to_pylist()
    row = {"Invoice Date": None, "DESC": "d{a}", "Value": 2, "LOT#": "498-68594 39024",
           "weight": 12, "pack size": 6.0}
    assert got == [
        {"Store": 86, "PO #": "86-{8}", **row, "carrier code": "}"},
        {"Store": 114, "PO #": "114-7{0}", **row, "carrier code": "C{1}"},
    ]
