"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and writes plain input
files — CSV sheet grids, PO/carrier files, control grids, PDFs, parquet
tables — into a directory the caller owns. Alongside the files each
generator returns the answer a plain-Python recomputation gives (canonical
row count, Distro Size total, macro line count, Sent/ERROR sets), so the
workloads can check program outputs without asking the program.

The grids carry the junk rows and columns of ``plans/fixtures.py`` (title
rows, Total columns, grand-total footers, junk leading columns, NA words,
money text), with store and item counts chosen by the caller.
"""

from __future__ import annotations

import csv
import json
import math
import os
import random
from dataclasses import dataclass

# ADPO,X renders per branch: 5 header + 14 freight-trailer + 12 clipboard
# lines, and 10 lines per item (sinks/macro.py K4 layout).
ADPO_LINES_PER_BRANCH = 31
ADPO_LINES_PER_ROW = 10
# DLPM renders a fixed keystroke block per price row (sinks/macro.py K3).
DLPM_LINES_PER_ROW = 32

PRICE_EXCLUDED = ("457", "453")


@dataclass
class Expect:
    """What a correct run of one pipeline must produce."""

    canonical_rows: int = 0
    distro_total: int = 0
    macro_lines: int = 0


def _write_csv(path: str, rows: list[list[str]]) -> None:
    width = max(len(r) for r in rows)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        for r in rows:
            w.writerow(list(r) + [""] * (width - len(r)))


def _stores(rng: random.Random, n: int) -> list[str]:
    """Distinct store codes, a third of them 2-digit (the program prefixes
    those with '1', so 2-digit codes come from a range that cannot collide
    with the 3-digit ones)."""
    two = rng.sample(range(10, 100), n // 3)
    three = rng.sample(range(400, 1000), n - n // 3)
    return [str(s) for s in two + three]


def _fixed_branch(code: str) -> int:
    return int("1" + code) if len(code) == 2 else int(code)


def _items(rng: random.Random, n: int) -> list[int]:
    return sorted(rng.sample(range(10_000, 1_000_000), n))


def _adpo_lines(keys: list[tuple[int, int]]) -> int:
    branches = {b for b, _ in keys}
    return ADPO_LINES_PER_BRANCH * len(branches) + ADPO_LINES_PER_ROW * len(keys)


# --------------------------------------------------------------------------
# 247 / Leavins allocation
# --------------------------------------------------------------------------

def allocation(rng: random.Random, path: str, n_items: int, n_stores: int) -> Expect:
    """Title row, header row (Item# | Item Description | stores | Total),
    one or two rows per item, blank and 'x' cells, grand-total footer."""
    stores = _stores(rng, n_stores)
    rows = [[f"ALLOCATION REPORT - WEEK {rng.randint(1, 52)}"]]
    rows.append(["Item#", "Item Description"] + stores + ["Total"])
    sums: dict[tuple[int, int], int] = {}
    for item in _items(rng, n_items):
        for _ in range(rng.choice((1, 1, 2))):
            cells = []
            for s in stores:
                r = rng.random()
                if r < 0.35:
                    cells.append("")
                elif r < 0.38:
                    cells.append("x")
                else:
                    q = rng.randint(0, 12)
                    cells.append(str(q))
                    key = (_fixed_branch(s), item)
                    sums[key] = sums.get(key, 0) + q
            rows.append([str(item), f"desc {item}"] + cells + ["999"])
    rows.append(["Grand Total", ""] + [""] * n_stores + ["999999"])
    _write_csv(path, rows)
    kept = {k: v for k, v in sums.items() if v != 0}
    return Expect(len(kept), sum(kept.values()), _adpo_lines(list(kept)))


def pricesheet(rng: random.Random, path: str, n_items: int, n_stores: int) -> Expect:
    """Title row, header (Item# | Item Name | FOB | stores incl. the 490
    remap and 457/453 exclusions), '$D.CC' and '(D.CC)' cells, blanks, and
    zero/NA item rows the clean step drops."""
    stores = list(PRICE_EXCLUDED) + ["490"]
    stores += [s for s in _stores(rng, n_stores) if s not in stores][: n_stores - 3]
    rows = [["PRICE SHEET"], ["Item#", "Item Name", "FOB"] + stores]
    n = 0
    for item in _items(rng, n_items):
        cells = []
        for s in stores:
            if rng.random() < 0.3:
                cells.append("")
                continue
            c = rng.randint(1, 99_999)
            text = f"{c // 100}.{c % 100:02d}"
            cells.append(f"({text})" if rng.random() < 0.1 else f"${text}")
            if s not in PRICE_EXCLUDED:
                n += 1
        rows.append([str(item), f"name {item}", f"{item % 97}.99"] + cells)
    for junk in ("", "0", "nan"):
        rows.append([junk, "junk", "0"] + ["$1.00"] * len(stores))
    _write_csv(path, rows)
    return Expect(macro_lines=DLPM_LINES_PER_ROW * n)


# --------------------------------------------------------------------------
# ACME (dock-filtered single sheet)
# --------------------------------------------------------------------------

ACME_DOCKS = (189, 436, 407, 499, 888)
ACME_IL_DOCKS = (189, 436)


def acme(rng: random.Random, path: str, n_items: int, n_stores: int) -> Expect:
    """Two junk leading columns, dock/Branch/Item/Distro Size, and a
    trailing column the Distro-Size slice removes; one row per
    (item, store) pair that carries a quantity."""
    stores = _stores(rng, n_stores)
    rows = [["j1", "j2", "dock", "Branch", "Item", "Distro Size", "cut me"]]
    keys: list[tuple[int, int]] = []
    total = 0
    for item in _items(rng, n_items):
        for s in stores:
            if rng.random() < 0.5:
                continue
            dock = rng.choice(ACME_DOCKS)
            q = rng.randint(0, 9)
            rows.append(["x", "y", str(dock), s, str(item), str(q), "zzz"])
            if dock in ACME_IL_DOCKS and q != 0:
                keys.append((_fixed_branch(s), item))
                total += q
    _write_csv(path, rows)
    return Expect(len(keys), total, _adpo_lines(keys))


# --------------------------------------------------------------------------
# SouthernCross (per-cell coercion matrix)
# --------------------------------------------------------------------------

def southern_cross(rng: random.Random, path: str, n_items: int, n_stores: int) -> Expect:
    """Header row 0 (Item | Description | stores | LOT # | junk), two rows
    per item, 'na' / '9.0' / '5.50' cells, and Item 0 / blank-item rows."""
    stores = _stores(rng, n_stores)
    rows = [["Item", "Description"] + stores + ["LOT #", "junk"]]
    sums: dict[tuple[int, int], float] = {}
    for item in _items(rng, n_items):
        for _ in range(2):
            cells = []
            for s in stores:
                r = rng.random()
                if r < 0.1:
                    text, v = "na", 0.0
                elif r < 0.2:
                    text, v = "9.0", 9.0
                elif r < 0.3:
                    text, v = "5.50", 5.5
                else:
                    v = float(rng.randint(0, 8))
                    text = str(int(v))
                cells.append(text)
                key = (_fixed_branch(s), item)
                sums[key] = sums.get(key, 0.0) + v
            rows.append([str(item), f"d{item}"] + cells + ["L1", "zz"])
    rows.append(["0", "drop"] + ["1"] * n_stores + ["L1", "zz"])
    rows.append(["", "drop"] + ["1"] * n_stores + ["L1", "zz"])
    _write_csv(path, rows)
    kept = {k: int(v) for k, v in sums.items() if v != 0}
    return Expect(len(kept), sum(kept.values()), _adpo_lines(list(kept)))


# --------------------------------------------------------------------------
# Flips (one sheet: big region above 'Total Weight', baby region below)
# --------------------------------------------------------------------------

def flips(
    rng: random.Random,
    path: str,
    po_dir: str,
    carrier_dir: str,
    n_items: int,
    n_stores: int,
    n_baby_items: int,
    n_baby_stores: int,
) -> tuple[Expect, Expect]:
    """The Flips sheet plus its PO CSV and salmon carrier JSON. Returns
    (big-flip expectation, baby-flip expectation)."""
    stores = _stores(rng, n_stores)
    width = 4 + n_stores + 2
    fobs = [f"{rng.randint(1, 40)}.5" for _ in stores]
    xdocks = [str(rng.randint(0, 5)) for _ in stores]
    rows = [
        ["BIG FLIP"] + [""] * (width - 1),
        ["", "", "", "Fob"] + fobs + ["", ""],
        [""] * width,
        ["", "", "", "Xdock"] + xdocks + ["", ""],
        ["Item", "j1", "j2", "j3"] + stores + ["Lot #", "PO #"],
    ]
    big_rows = 0
    big_total = 0
    for item in _items(rng, n_items):
        for r in (0, 1):
            cells = []
            for s in stores:
                if rng.random() < 0.2:
                    cells.append("")
                    continue
                m = rng.randint(0, 30)
                frac = rng.choice((".25", ".50"))
                cells.append(f"${m}{frac}")
                big_rows += 1
                big_total += math.ceil(m + float(frac))
            rows.append([str(item), "a", "b", "c"] + cells + [f"L-{100 + r}", ""])
    rows.append(["", "", "", "Total Weight"] + [""] * (width - 4))

    baby_stores = [str(30 + k) for k in range(n_baby_stores)]
    rows.append(
        ["Item", "Code", "some description", "pack size", "Wgt"]
        + baby_stores
        + ["Lot #", "junk"]
    )
    baby_rows = 0
    baby_total = 0
    for item in _items(rng, n_baby_items):
        pack = rng.randint(1, 5)
        sums = [0] * n_baby_stores
        for _ in range(2):
            cells = []
            for k in range(n_baby_stores):
                v = rng.randint(0, 6)
                if v == 6:
                    cells.append("na")
                else:
                    cells.append(f"{v}.2")
                    sums[k] += v + 1
            rows.append(
                [str(item), f"c{item}", f"D{item}", str(pack), "9"]
                + cells
                + [f"LT{item % 3}", "zz"]
            )
        baby_rows += sum(1 for s in sums if s != 0)
        baby_total += sum(sums)
    _write_csv(path, rows)

    os.makedirs(po_dir, exist_ok=True)
    with open(os.path.join(po_dir, "po.csv"), "w") as fh:
        for k, s in enumerate(baby_stores):
            fh.write(f"{s}-{7000 + k}\n")
    os.makedirs(carrier_dir, exist_ok=True)
    with open(os.path.join(carrier_dir, "salmon_carrier.json"), "w") as fh:
        json.dump({s: f"C{k}" for k, s in enumerate(baby_stores)}, fh)
    return Expect(big_rows, big_total), Expect(baby_rows, baby_total)


# --------------------------------------------------------------------------
# One supplier drop day: a folder per run_* pipeline
# --------------------------------------------------------------------------

SUPPLIER_PIPELINES = (
    "247", "acme", "leavins", "southern_cross", "flips_big", "flips_baby",
)


def supplier_day(seed: int, root: str, n_items: int, n_stores: int) -> dict[str, dict]:
    """Drop folders for the six pipelines, every sheet ``n_items`` items by
    ``n_stores`` stores (the Flips baby region: a quarter of the stores).
    Returns {pipeline: {folder paths..., "expect": Expect}}."""
    rng = random.Random(seed)
    out: dict[str, dict] = {}

    def folder(name: str) -> str:
        p = os.path.join(root, name)
        os.makedirs(p, exist_ok=True)
        return p

    d = folder("247")
    e = allocation(rng, os.path.join(d, "allocation 0106.csv"), n_items, n_stores)
    p = pricesheet(rng, os.path.join(d, "price 0106.csv"), n_items, n_stores)
    e.macro_lines += p.macro_lines
    out["247"] = {"in": d, "expect": e}

    d = folder("acme")
    out["acme"] = {
        "in": d,
        "expect": acme(rng, os.path.join(d, "acme il 0106.csv"), n_items, n_stores),
    }

    d = folder("leavins")
    out["leavins"] = {
        "in": d,
        "expect": allocation(rng, os.path.join(d, "allocation 0106.csv"), n_items, n_stores),
    }

    d = folder("southern_cross")
    out["southern_cross"] = {
        "in": d,
        "expect": southern_cross(rng, os.path.join(d, "ibt 0106.csv"), n_items, n_stores),
    }

    d = folder("flips")
    po, carrier = folder("flips_po"), folder("flips_carrier")
    big, baby = flips(
        rng, os.path.join(d, "flips salmon 0106.csv"), po, carrier,
        n_items, n_stores, n_items, max(4, n_stores // 4),
    )
    out["flips_big"] = {"in": d, "expect": big}
    out["flips_baby"] = {"in": d, "po": po, "carrier": carrier, "expect": baby}
    return out


# --------------------------------------------------------------------------
# po_tick: control grid + watch folder of per-PO PDFs
# --------------------------------------------------------------------------

@dataclass
class PoDay:
    grid: list[list[str]]
    watch_dir: str
    vendors: dict[str, dict]          # status_a1 -> {vendor, pos, pages}
    missing_pos: set[str]
    error_a1: set[str]
    sent_a1: set[str]


def po_day(
    seed: int,
    root: str,
    n_vendors: int,
    stores_per_vendor: int,
    missing_frac: float,
    pdf_bytes,
) -> PoDay:
    """A two-section control grid ('Note' header rows with compound
    '452/490' store columns, 'x' cells, blank-vendor and already-Sent rows)
    and a watch folder holding one PDF per expected PO except a seeded
    ``missing_frac`` share. ``pdf_bytes(pages) -> bytes`` renders a PDF."""
    from etl_jetro_spark.sources.sheet import to_a1

    rng = random.Random(seed)
    watch = os.path.join(root, "watch")
    os.makedirs(watch, exist_ok=True)
    n_cols = stores_per_vendor + 2
    grid: list[list[str]] = []
    vendors: dict[str, dict] = {}
    all_pos: list[str] = []
    next_po = rng.randint(100_000, 200_000)
    vendor_nums = rng.sample(range(10_000, 99_999), n_vendors + 4)
    for section in range(2):
        stores = _stores(rng, n_cols)
        header_stores = [f"{stores[0]}/{stores[1]}"] + stores[2:]
        start = len(grid)
        grid.append(["Note", "Vendor #", "Vendor Name"] + header_stores + ["PO count", "Status"])
        status_col = len(grid[start]) - 1
        half = n_vendors // 2 if section == 0 else n_vendors - n_vendors // 2
        for v in range(half):
            vnum = str(vendor_nums.pop())
            cells, pos = [], []
            for _ in header_stores:
                if rng.random() < 0.1:
                    cells.append("x")
                    continue
                po = str(next_po)
                next_po += 1
                cells.append(po + (".0" if rng.random() < 0.1 else ""))
                pos.append(po)
            row = len(grid)
            grid.append(["", vnum + ".0", f"Vendor {vnum}"] + cells + [str(len(pos)), "Ready"])
            if pos:
                a1 = to_a1(row, status_col)
                pages = {po: rng.choice((1, 1, 2)) for po in pos}
                vendors[a1] = {"vendor": vnum, "pos": pos, "pages": pages}
                all_pos += pos
        # rows the tick must skip: blank vendor number, already Sent
        grid.append(["", "", "skipped"] + ["1"] * len(header_stores) + ["", "Ready"])
        grid.append(["", str(vendor_nums.pop()), "done"] + ["x"] * len(header_stores) + ["0", "Sent"])
        grid.append([f"section {section} notes"] + [""] * (len(header_stores) + 4))

    n_missing = max(1, round(missing_frac * len(all_pos)))
    missing = set(rng.sample(all_pos, n_missing))
    for a1, v in vendors.items():
        store = rng.randint(100, 999)
        for po in v["pos"]:
            if po in missing:
                continue
            name = f"{v['vendor']}-{store}-{po}.pdf"
            pages = [f"PO {po} page {i + 1}" for i in range(v["pages"][po])]
            with open(os.path.join(watch, name), "wb") as fh:
                fh.write(pdf_bytes(pages))
    error_a1 = {a1 for a1, v in vendors.items() if missing & set(v["pos"])}
    return PoDay(grid, watch, vendors, missing, error_a1, set(vendors) - error_a1)


# --------------------------------------------------------------------------
# query_mix: the ten parquet tables the query catalog reads
# --------------------------------------------------------------------------

_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream filter order group vector"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
Q60_ORDERS, Q60_PARTS = 200, 100


def tables(seed: int, out_dir: str, rows_lineitem: int) -> dict[str, int]:
    """The catalog's ten tables with the column types of the reference
    datasets, sized relative to ``rows_lineitem`` (orders = 1/4, customer
    = 1/40, part = 1/30, events = 1/6, documents = 1/120). Money columns
    hold exact 2-dp values. Returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li = rows_lineitem
    n_ord = max(100, n_li // 4)
    n_cust = max(50, n_li // 40)
    n_part = max(100, n_li // 30)
    n_supp = max(20, n_li // 600)
    n_ev = max(100, n_li // 6)
    n_doc = max(50, n_li // 120)
    n_emb = max(50, n_li // 300)

    def day(lo: str, n_days: int, size: int):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, n_days, size).astype("timedelta64[D]")

    def cents(lo: int, hi: int, size: int):
        return rng.integers(lo, hi, size) / 100.0

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": cents(-99_999, 999_999, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": cents(-99_999, 999_999, n_supp),
    })
    adj = np.array(["small", "red", "blue", "hot", "big", "cold", "green", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "cog"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"])
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": pk.astype(np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(100_000, 50_000_000, n_ord),
        "o_orderdate": day("1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li)
    okey = rng.integers(0, n_ord, n_li)
    pkey = rng.integers(0, n_part, n_li)
    # q60 labels the components of the order-part graph on the lineitems
    # with l_orderkey < 200 and l_partkey < 100, one round per hop of its
    # diameter, which varied 2.5x in cost between seeds. That subgraph comes
    # from a fixed stream, so every seed gives q60 the same work.
    in_q60 = (okey < Q60_ORDERS) & (pkey < Q60_PARTS)
    okey[in_q60] = rng.integers(Q60_ORDERS, n_ord, int(in_q60.sum()))
    q60_orders, q60_parts = min(Q60_ORDERS, n_ord), min(Q60_PARTS, n_part)
    k = round(n_li * q60_orders / n_ord * q60_parts / n_part)
    fixed = np.random.default_rng(0)
    okey[:k] = fixed.integers(0, q60_orders, k)
    pkey[:k] = fixed.integers(0, q60_parts, k)
    write("lineitem", {
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(90_000, 210_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day("1995-01-02", 2499, n_li),
    })
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": cents(0, 2_000, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
            continue
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return {
        "lineitem": n_li, "orders": n_ord, "customer": n_cust, "part": n_part,
        "supplier": n_supp, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
