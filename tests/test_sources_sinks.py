"""Sources (S3–S5) and sinks (K3–K8 deterministic parts)."""

from __future__ import annotations

import hashlib
import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from etl_jetro_spark.sinks import notify
from etl_jetro_spark.sinks.macro import render_adpo_x, render_dlpm
from etl_jetro_spark.sinks.pdf import merged_name
from etl_jetro_spark.sources.csv_po import read_latest_po_csv
from etl_jetro_spark.sources.json_dim import read_carrier_json
from tests.conftest import canonical


def test_read_latest_po_csv(tmp_path):
    old = tmp_path / "old.csv"
    old.write_text("999-1\n")
    os.utime(old, (1000, 1000))
    new = tmp_path / "new.csv"
    # dash variants, NA lines, dash-less junk, utf-8 BOM
    new.write_bytes("\ufeff114-28937\n402–20721\n458—41774\n\nn/a\nnah\nnodash\n".encode())
    got = sorted(read_latest_po_csv(str(tmp_path)))
    assert got == [
        ("114-28937", "114", "28937"),
        ("402–20721", "402", "20721"),
        ("458—41774", "458", "41774"),
    ]


def test_read_carrier_json(tmp_path):
    (tmp_path / "northern_carrier.json").write_text('{"114": 8, "123": 3}')
    dim = read_carrier_json("baby flips northern 0813", str(tmp_path))
    # the JSON's own values; the Flips baby plan renders them as strings
    # (test_pipelines.py::test_baby_flip_e2e)
    assert dim == {"114": 8, "123": 3}
    with pytest.raises(ValueError):
        read_carrier_json("no token here", str(tmp_path))
    (tmp_path / "salmon_carrier.json").write_text('["114", 8]')
    with pytest.raises(ValueError, match="salmon_carrier.json: expected a JSON object"):
        read_carrier_json("flips salmon 0813", str(tmp_path))


def test_render_dlpm_deterministic(spark):
    price = spark.createDataFrame(
        [("10", "12345", 81214, 2.5), ("9", "99", 81214, 1234.5)],
        ["Store#", "Item#", "Vendor#", "Cost"],
    )
    name, text = render_dlpm(price, "AB", date(2026, 8, 13))
    assert name == "08-13-26 247DLPM.txt"
    lines = text.splitlines()
    # reference 32-line block per row; numeric-first store order: 9 before 10
    assert len(lines) == 64
    assert lines[0] == "Key Tab" and lines[1] == "Type 9-0000099"
    assert lines[4] == "Type H" and lines[6] == "Type A"
    assert lines[8] == "Type 08/13/26" and lines[12] == "Type AB"
    assert "Type 1234.50" in lines  # comma-free 2dp money
    assert text == render_dlpm(price, "AB", date(2026, 8, 13))[1]  # byte-stable


def test_render_adpo_x_groups(spark):
    fact = spark.createDataFrame(
        [("9", "12", "5"), ("9", "13", "2"), ("114", "12", "7")],
        ["Branch", "Item", "Distro Size"],
    )
    canon = canonical(spark, fact, "247", "2026-08-17")
    name, text = render_adpo_x(canon.toArrow(), run_date=date(2026, 8, 13))
    assert name == "2026-08-13_ADPO_X_Vendor81214.txt"
    # two branch groups -> two headers, freight trailers, clipboard blocks
    assert text.count("Type P2E") == 2 and text.count("Type 81214") == 2
    assert text.count(f"-0990033") == 2
    assert text.count('type "adpo,x"') == 2
    assert "FileSpec clipboard,C:\\POs\\VendorNo-81214-2026-08-13.csv,append" in text
    assert "Type  9-0000012" in text and "Type  114-0000012" in text
    assert "Type 08/17/26" in text  # EDD mm/dd/yy in the trailer
    # branch 9 group comes first (numeric order)
    assert text.index("Type 9\n") < text.index("Type 114\n")
    # reference post-processing: no trailing spaces, no blank lines
    assert "\n\n" not in text and " \n" not in text


def test_notify_body_and_status_payload():
    updates = [("G2", "SENDING"), ("E7", "Sent")]
    payload = notify.status_update_payload(updates)
    assert payload == [
        {"range": "E7", "values": [["Sent"]]},
        {"range": "G2", "values": [["SENDING"]]},
    ]


def test_merged_pdf_name():
    assert merged_name(9, date(2025, 9, 15)) == "9 orders 09-15-25.pdf"


def test_render_adpo_i(spark):
    from etl_jetro_spark.sinks.macro import render_adpo_i
    fact = spark.createDataFrame(
        [("114", "12", "5")], ["Branch", "Item", "Distro Size"]
    ).withColumn("XDCK", F.lit(1.5)).withColumn("FOB", F.lit(10.0))
    canon = canonical(spark, fact, "flips_big", "2026-08-14")
    name, text = render_adpo_i(canon.toArrow(), run_date=date(2026, 8, 13))
    assert name == "2026-08-13_ADPO_I_output.txt"
    lines = text.splitlines()
    assert "Type 20000" in lines                       # supplier literal
    assert "Type 498-0000012" in lines                 # warehouse-addressed item
    assert "Type 498-0990033" in lines                 # freight trailer
    assert "Type 1.5" in lines                         # XDCK cleaned (1.50 -> 1.5)
    assert "type 10" in lines                          # FOB trailer variant, cleaned
    assert "type W" in lines and "Type M" in lines     # freight type + XDCK letter
    assert "FileSpec clipboard,C:\\POs\\2026-08-13_114544_P20.csv,append" in lines
    assert text.endswith("\n")


def test_pair_scan_too_many_files(tmp_path):
    from etl_jetro_spark.sources.excel import read_allocation_pricesheet

    for n in ("allocation.csv", "price.csv", "~$allocation.csv"):
        (tmp_path / n).write_text("a,b\n1,2\n")
    alloc, price = read_allocation_pricesheet(str(tmp_path))  # lock file skipped
    assert alloc is not None and price is not None
    (tmp_path / "extra.csv").write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="at most 2"):
        read_allocation_pricesheet(str(tmp_path))


def test_read_po_csv_utf16(tmp_path):
    f = tmp_path / "pos.csv"
    f.write_bytes("114-28937\n402–20721\n".encode("utf-16"))
    from etl_jetro_spark.sources.csv_po import read_po_lines

    got = sorted((store, item) for _po, store, item in read_po_lines(str(f)))
    assert got == [("114", "28937"), ("402", "20721")]


# Each file's rows are what the PO reader returned when it parsed UTF-8
# files with Spark's text reader (and transcoded UTF-16 ones first): lines
# break on \n, \r\n and a lone \r but not \x0b, one leading U+FEFF goes,
# trim strips ASCII spaces only, invalid UTF-8 bytes become U+FFFD.
PO_FILES = {
    "utf8_bom": (
        "\ufeff114-28937\n402-20721\n".encode(),
        [("114-28937", "114", "28937"), ("402-20721", "402", "20721")],
    ),
    "bom_each_line": (
        "114-1\n\ufeff402-2\n \ufeff458-3\n".encode(),
        [("114-1", "114", "1"), ("402-2", "402", "2"), ("\ufeff458-3", "\ufeff458", "3")],
    ),
    "utf16_le": (
        b"\xff\xfe" + "114-28937\r\n402–20721\r\n".encode("utf-16-le"),
        [("114-28937", "114", "28937"), ("402\u201320721", "402", "20721")],
    ),
    "utf16_be": (
        b"\xfe\xff" + "114-1\n458—3\n".encode("utf-16-be"),
        [("114-1", "114", "1"), ("458\u20143", "458", "3")],
    ),
    "crlf": (b"114-1\r\n402-2\r\n", [("114-1", "114", "1"), ("402-2", "402", "2")]),
    "lone_cr": (
        b"114-1\r402-2\r458-3",
        [("114-1", "114", "1"), ("402-2", "402", "2"), ("458-3", "458", "3")],
    ),
    "vtab": (
        b"114-1\x0b402-2\n458-3\n",
        [("114-1\x0b402-2", "114", "1\x0b402-2"), ("458-3", "458", "3")],
    ),
    "tabs_spaces": (
        b"  114-1  \n\t402-2\t\n 458 - 3 \n",
        [("114-1", "114", "1"), ("\t402-2\t", "\t402", "2\t"), ("458 - 3", "458", "3")],
    ),
    "dashes": (
        "402–20721\n458—41774-x\n86-\n-5\n".encode(),
        [
            ("402\u201320721", "402", "20721"),
            ("458\u201441774-x", "458", "41774-x"),
            ("86-", "86", ""),
            ("-5", "", "5"),
        ],
    ),
    "na_words": (b"na\n n/a \nN/A\nNone-1\nnah\n\n   \nnodash\n", [("None-1", "None", "1")]),
    "invalid_utf8": (
        b"114-1\x80\n\xc3(402-2\n458-\xe2\x80\n\xff\xfe-9\n",
        [
            ("114-1\ufffd", "114", "1\ufffd"),
            ("\ufffd(402-2", "\ufffd(402", "2"),
            ("458-\ufffd", "458", "\ufffd"),
            ("\ufffd\ufffd-9", "\ufffd\ufffd", "9"),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(PO_FILES))
def test_read_po_lines_rules(tmp_path, case):
    from etl_jetro_spark.sources.csv_po import read_po_lines

    data, want = PO_FILES[case]
    f = tmp_path / "pos.csv"
    f.write_bytes(data)
    assert read_po_lines(str(f)) == want


# --------------------------------------------------------------------------
# Native xlsx codec (S1/S2 un-gated: real workbook behaviors)
# --------------------------------------------------------------------------

def test_xlsx_roundtrip_types(tmp_path):
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid
    from tests.oracles import write_rows_xlsx

    p = str(tmp_path / "t.xlsx")
    write_rows_xlsx(p, {"S": [["Item#", "Qty", "Note"], [114, 3.5, "a & <b>"], [7, True, None]]})
    g = read_xlsx_grid(p)
    assert list(g.iloc[0]) == ["Item#", "Qty", "Note"]
    assert g.iat[1, 0] == 114 and isinstance(g.iat[1, 0], int)
    assert g.iat[1, 1] == 3.5 and isinstance(g.iat[1, 1], float)
    assert g.iat[1, 2] == "a & <b>"
    assert g.iat[2, 1] is True and g.iat[2, 2] is None


def _sheet_states(path: str) -> list[tuple[str, str]]:
    """[(name, state)] of every worksheet, read from ``xl/workbook.xml``."""
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(path) as zf:
        root = ET.fromstring(zf.read("xl/workbook.xml"))
    tag = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}sheet"
    return [(sh.get("name"), sh.get("state", "visible")) for sh in root.iter(tag)]


def test_xlsx_hidden_sheet_and_active_selection(tmp_path):
    """Reference behaviors (247/tools/read_file_tool.py:83-101): hidden and
    veryHidden sheets are never picked; active tab wins when visible, else
    the first visible sheet."""
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid
    from tests.oracles import write_rows_xlsx

    p = str(tmp_path / "wb.xlsx")
    write_rows_xlsx(
        p,
        {"ghost": [["G"]], "front": [["F"]], "back": [["B"]]},
        states={"ghost": "veryHidden"},
        active=2,  # 'back' is active and visible -> picked
    )
    assert read_xlsx_grid(p).iat[0, 0] == "B"
    assert ("ghost", "veryHidden") in _sheet_states(p)

    p2 = str(tmp_path / "wb2.xlsx")
    write_rows_xlsx(
        p2,
        {"h": [["H"]], "v": [["V"]]},
        states={"h": "hidden"},
        active=0,  # active is hidden -> fall to first VISIBLE
    )
    assert read_xlsx_grid(p2).iat[0, 0] == "V"


def test_xlsx_named_sheet_ibt_format(tmp_path):
    """SouthernCross reads the fixed tab 'IBT FORMAT' and errors when it is
    absent (reference SouthernCross/tools/read_file_tool.py:55-60)."""
    from etl_jetro_spark.sources.excel import read_single_with_token
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid
    from tests.oracles import write_rows_xlsx

    folder = tmp_path / "sc"
    folder.mkdir()
    p = str(folder / "Southern Cross IBT.xlsx")
    write_rows_xlsx(p, {"cover": [["junk"]], "IBT FORMAT": [["Item", "449"], ["12", "3"]]})
    grid, token = read_single_with_token(str(folder), sheet="IBT FORMAT")
    assert token == "southern cross ibt"
    assert list(grid.iloc[0]) == ["Item", "449"]
    missing = str(folder / "missing.xlsx")
    write_rows_xlsx(missing, {"only": [["x"]]})
    with pytest.raises(ValueError, match="IBT FORMAT"):
        read_xlsx_grid(missing, sheet="IBT FORMAT")


def test_247_pipeline_through_real_xlsx(spark, tmp_path, sf_dir):
    """Round-trip the 247 allocation pipeline through a REAL workbook:
    fixture grid → .xlsx (with a ~$ lock file and a hidden junk sheet in
    the way) → S1 pair scan → clean → build → equals the direct path."""
    from etl_jetro_spark.pipelines import batch as B
    from etl_jetro_spark.plans import fixtures as FX
    from etl_jetro_spark.sources.excel import read_allocation_pricesheet
    from tests.oracles import write_rows_xlsx

    grid = FX.allocation_grid(sf_dir)
    folder = tmp_path / "drop"
    folder.mkdir()
    rows = [list(r) for r in grid.itertuples(index=False)]
    write_rows_xlsx(
        str(folder / "Weekly Allocation.xlsx"),
        {"notes": [["ignore me"]], "data": rows},
        states={"notes": "hidden"},
        active=1,
    )
    (folder / "~$Weekly Allocation.xlsx").write_bytes(b"lock")

    alloc, price = read_allocation_pricesheet(str(folder))
    assert price is None and alloc is not None
    via_xlsx = B.build_allocation(
        spark, B.clean_allocation(alloc), "247", base_date="2026-01-05"
    )
    direct = B.build_allocation(
        spark, B.clean_allocation(grid), "247", base_date="2026-01-05"
    )
    a = sorted(map(tuple, via_xlsx.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0


def test_write_canonical_emits_real_workbook(spark, tmp_path, sf_dir):
    """K1 un-gated: the canonical sink writes a real 3-sheet workbook
    (Scripting + empty ANOMALY/STORE CLUSTER) readable by the codec, with
    m/d/yyyy EDD text."""
    from etl_jetro_spark.pipelines import batch as B
    from etl_jetro_spark.plans import fixtures as FX
    from etl_jetro_spark.sinks.excel_sink import (
        CANONICAL_ORDER,
        collect_ordered,
        write_canonical,
    )
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid

    canon = B.build_allocation(
        spark, B.clean_allocation(FX.allocation_grid(sf_dir)), "247",
        base_date="2026-01-05",
    )
    man = write_canonical(collect_ordered(canon, *CANONICAL_ORDER), str(tmp_path))
    assert man["xlsx"] and os.path.exists(man["xlsx"])
    assert [n for n, _ in _sheet_states(man["xlsx"])] == [
        "Scripting", "ANOMALY", "STORE CLUSTER"
    ]
    g = read_xlsx_grid(man["xlsx"], sheet="Scripting")
    assert list(g.iloc[0][:4]) == ["Branch", "Item", "Description", "Distro Size"]
    assert g.shape[0] == man["rows"] + 1
    edd_col = list(g.iloc[0]).index("Expected Delivery Date")
    assert g.iat[1, edd_col] == "1/7/2026"


# --------------------------------------------------------------------------
# K6 native PDF merge, K7 sendMail payload, xlsx sheet names
# --------------------------------------------------------------------------

def test_pdf_native_merge(tmp_path):
    from etl_jetro_spark.sinks.pdf import (
        combine_pdfs, merge_pdfs_bytes, merged_name, write_simple_pdf_bytes,
    )
    from tests.conftest import pdf_page_count

    folder = tmp_path / "pdfs"
    folder.mkdir()
    (folder / "b-402-1002.pdf").write_bytes(write_simple_pdf_bytes(["PO 1002"]))
    (folder / "a-114-1001.pdf").write_bytes(
        write_simple_pdf_bytes(["PO 1001", "PO 1001 p2"])
    )
    out = combine_pdfs(str(folder), str(tmp_path), date(2026, 1, 6))
    assert os.path.basename(out) == merged_name(2, date(2026, 1, 6)) == "2 orders 01-06-26.pdf"
    data = open(out, "rb").read()
    assert pdf_page_count(data) == 3
    # sorted merge order: a-114 pages come before b-402's
    assert data.index(b"PO 1001") < data.index(b"PO 1002")
    # the native writer's and merger's bytes do not drift
    a = write_simple_pdf_bytes(["PO 1001", "PO 1001 p2"])
    b = write_simple_pdf_bytes(["PO 1002"])
    assert hashlib.sha256(a).hexdigest() == (
        "9ecdf757589937714ca7fd5ee669440eaf44c2f8dc0786b4c3f9366606578288"
    )
    assert hashlib.sha256(merge_pdfs_bytes([a, b])).hexdigest() == (
        "8d0d3231ee7e412081158393ed112ea9778e130ab250e143c2d21b7a7b171567"
    )


def test_send_mail_request_payload():
    """K7's ``me/sendMail`` payload: recipients deduped case-insensitively
    (first casing kept), default CCs appended, a base64 attachment."""
    import base64 as b64

    payload = notify.build_send_mail_request(
        subject="POs",
        body_html="<p>hi</p>",
        to=["Buyer@x.com; buyer@X.com, other@y.org"],
        default_cc=["cc@x.com"],
        attachments=[("orders.pdf", b"%PDF-fake")],
    )
    tos = [r["emailAddress"]["address"] for r in payload["message"]["toRecipients"]]
    assert tos == ["Buyer@x.com", "other@y.org"]  # ci-dedupe keeps first casing
    ccs = [r["emailAddress"]["address"] for r in payload["message"]["ccRecipients"]]
    assert ccs == ["cc@x.com"]
    att = payload["message"]["attachments"][0]
    assert att["name"] == "orders.pdf" and att["contentType"] == "application/pdf"
    assert b64.b64decode(att["contentBytes"]) == b"%PDF-fake"


def test_xlsx_int_sheet_index_and_quoted_names(tmp_path):
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid
    from tests.oracles import write_rows_xlsx

    p = str(tmp_path / "t.xlsx")
    write_rows_xlsx(p, {'He said "hi"': [["A"]], "second": [["B"]]})
    assert read_xlsx_grid(p, sheet="second").iat[0, 0] == "B"
    assert read_xlsx_grid(p, sheet='He said "hi"').iat[0, 0] == "A"


@pytest.mark.parametrize("name", ["alloc.xls", "alloc.xlsx"])
def test_unreadable_workbook_is_an_explicit_error(tmp_path, name):
    """A legacy binary .xls (an OLE2 file, not a zip) and a truncated
    .xlsx each fail with a ValueError that names the file and says which
    workbooks are read."""
    from etl_jetro_spark.sources.excel import read_single_with_token
    from tests.oracles import write_rows_xlsx

    drop = tmp_path / "drop"
    drop.mkdir()
    path = drop / name
    if name.endswith(".xls"):
        path.write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 504)
    else:
        write_rows_xlsx(str(tmp_path / "whole.xlsx"), {"S": [["a", 1]]})
        path.write_bytes((tmp_path / "whole.xlsx").read_bytes()[:200])
    with pytest.raises(ValueError, match="only OOXML workbooks") as err:
        read_single_with_token(str(drop))
    assert str(path) in str(err.value)
