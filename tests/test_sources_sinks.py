"""Sources (S3–S5) and sinks (K3–K8 deterministic parts)."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from etl_jetro_spark.sinks import notify
from etl_jetro_spark.sinks.macro import render_adpo_x, render_dlpm
from etl_jetro_spark.sinks.pdf import merged_name
from etl_jetro_spark.sources.csv_po import read_latest_po_csv
from etl_jetro_spark.sources.excel import grid_from_rows, grids_to_spark
from etl_jetro_spark.sources.json_dim import read_carrier_json
from etl_jetro_spark.sources.recipients import recipients_dim


def test_read_latest_po_csv(spark, tmp_path):
    old = tmp_path / "old.csv"
    old.write_text("999-1\n")
    os.utime(old, (1000, 1000))
    new = tmp_path / "new.csv"
    # dash variants, NA lines, dash-less junk, utf-8 BOM
    new.write_bytes("\ufeff114-28937\n402–20721\n458—41774\n\nn/a\nnah\nnodash\n".encode())
    df = read_latest_po_csv(spark, str(tmp_path))
    got = sorted((r["PO #"], r["Store"], r["Item"]) for r in df.collect())
    assert got == [
        ("114-28937", "114", "28937"),
        ("402–20721", "402", "20721"),
        ("458—41774", "458", "41774"),
    ]


def test_read_carrier_json(spark, tmp_path):
    (tmp_path / "northern_carrier.json").write_text('{"114": 8, "123": 3}')
    dim = read_carrier_json(spark, "baby flips northern 0813", str(tmp_path))
    got = dict((r["Store"], r["carrier_code"]) for r in dim.collect())
    assert got == {"114": "8", "123": "3"}
    with pytest.raises(ValueError):
        read_carrier_json(spark, "no token here", str(tmp_path))


def test_recipients_dim(spark):
    grid = grid_from_rows(
        [
            ["79906.0", "Leavins", "Contact A@x.com; b@y.org", "a@X.COM dup"],
            ["", "blank vendor", "z@z.io", ""],
            ["44602", "ACME", "not-an-email", None],
            ["81214", "247", "only c@z.io here", ""],
        ]
    )
    dim = recipients_dim(spark, grid)
    got = {r["vendor_num"]: r["to_emails"] for r in dim.collect()}
    assert got == {
        "79906": ["A@x.com", "b@y.org"],
        "81214": ["c@z.io"],
    }


def test_grids_to_spark_distributed(spark, tmp_path):
    import pandas as pd

    for i, rows in enumerate([[["h", "v"], ["a", "1"]], [["h", "v"], ["b", "2"]]]):
        pd.DataFrame(rows).to_csv(tmp_path / f"f{i}.csv", index=False, header=False)

    from etl_jetro_spark.normalize.grid import promote_header

    def norm(grid, path):
        pdf = promote_header(grid, 0)
        pdf["src"] = os.path.basename(path)
        return pdf

    out = grids_to_spark(
        spark,
        [str(tmp_path / "f0.csv"), str(tmp_path / "f1.csv")],
        norm,
        "h string, v string, src string",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", "1", "f0.csv"), ("b", "2", "f1.csv")]


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
    from etl_jetro_spark.operators import PIPELINES, to_canonical

    fact = spark.createDataFrame(
        [("9", "12", "5"), ("9", "13", "2"), ("114", "12", "7")],
        ["Branch", "Item", "Distro Size"],
    )
    canon = to_canonical(fact, PIPELINES["247"], edd=F.lit("2026-08-17").cast("date"))
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


def test_notify_body_and_status_payload(spark):
    body = notify.generate_body(["88101", " 88102 ", ""])
    # reference body doc: greeting, confirm line, one PO per line, escaped
    assert "Please confirm the following POs:" in body
    assert "88101<br>\n        88102" in body
    combined = notify.combine_body_signature(body, "<html><body><p>sig</p></body></html>")
    assert combined.index("88101") < combined.index("<p>sig</p>")
    assert 'style="height:24px;"' in combined

    updates = spark.createDataFrame(
        [("G2", "SENDING"), ("E7", "Sent")], ["status_a1", "new_status"]
    )
    payload = notify.write_status_updates(updates)
    assert payload == [
        {"range": "E7", "values": [["Sent"]]},
        {"range": "G2", "values": [["SENDING"]]},
    ]


def test_merged_pdf_name():
    assert merged_name(9, date(2025, 9, 15)) == "9 orders 09-15-25.pdf"


def test_render_adpo_i(spark):
    from etl_jetro_spark.sinks.macro import render_adpo_i
    from etl_jetro_spark.operators import PIPELINES, to_canonical

    fact = spark.createDataFrame(
        [("114", "12", "5")], ["Branch", "Item", "Distro Size"]
    ).withColumn("XDCK", F.lit(1.5)).withColumn("FOB", F.lit(10.0))
    canon = to_canonical(
        fact, PIPELINES["flips_big"], edd=F.lit("2026-08-14").cast("date")
    )
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

    for n in ("allocation.csv", "price.csv", "extra.csv"):
        (tmp_path / n).write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="at most 2"):
        read_allocation_pricesheet(str(tmp_path))


def test_read_po_csv_utf16(spark, tmp_path):
    f = tmp_path / "pos.csv"
    f.write_bytes("114-28937\n402–20721\n".encode("utf-16"))
    from etl_jetro_spark.sources.csv_po import read_po_lines

    got = sorted((r["Store"], r["Item"]) for r in read_po_lines(spark, str(f)).collect())
    assert got == [("114", "28937"), ("402", "20721")]


# --------------------------------------------------------------------------
# Native xlsx codec (S1/S2 un-gated: real workbook behaviors)
# --------------------------------------------------------------------------

def test_xlsx_roundtrip_types(tmp_path):
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid, write_xlsx

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, {"S": [["Item#", "Qty", "Note"], [114, 3.5, "a & <b>"], [7, True, None]]})
    g = read_xlsx_grid(p)
    assert list(g.iloc[0]) == ["Item#", "Qty", "Note"]
    assert g.iat[1, 0] == 114 and isinstance(g.iat[1, 0], int)
    assert g.iat[1, 1] == 3.5 and isinstance(g.iat[1, 1], float)
    assert g.iat[1, 2] == "a & <b>"
    assert g.iat[2, 1] is True and g.iat[2, 2] is None


def test_xlsx_hidden_sheet_and_active_selection(tmp_path):
    """Reference behaviors (247/tools/read_file_tool.py:83-101): hidden and
    veryHidden sheets are never picked; active tab wins when visible, else
    the first visible sheet."""
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid, sheet_names, write_xlsx

    p = str(tmp_path / "wb.xlsx")
    write_xlsx(
        p,
        {"ghost": [["G"]], "front": [["F"]], "back": [["B"]]},
        states={"ghost": "veryHidden"},
        active=2,  # 'back' is active and visible -> picked
    )
    assert read_xlsx_grid(p).iat[0, 0] == "B"
    assert ("ghost", "veryHidden") in sheet_names(p)

    p2 = str(tmp_path / "wb2.xlsx")
    write_xlsx(
        p2,
        {"h": [["H"]], "v": [["V"]]},
        states={"h": "hidden"},
        active=0,  # active is hidden -> fall to first VISIBLE
    )
    assert read_xlsx_grid(p2).iat[0, 0] == "V"


def test_xlsx_named_sheet_ibt_format(tmp_path):
    """SouthernCross reads the fixed tab 'IBT FORMAT' and errors when it is
    absent (reference SouthernCross/tools/read_file_tool.py:55-60)."""
    from etl_jetro_spark.sources.excel import grid_from_excel, read_single_with_token
    from etl_jetro_spark.sources.xlsx import write_xlsx

    folder = tmp_path / "sc"
    folder.mkdir()
    p = str(folder / "Southern Cross IBT.xlsx")
    write_xlsx(p, {"cover": [["junk"]], "IBT FORMAT": [["Item", "449"], ["12", "3"]]})
    grid, token = read_single_with_token(
        str(folder), reader=grid_from_excel, sheet="IBT FORMAT"
    )
    assert token == "southern cross ibt"
    assert list(grid.iloc[0]) == ["Item", "449"]
    missing = str(folder / "missing.xlsx")
    write_xlsx(missing, {"only": [["x"]]})
    with pytest.raises(ValueError, match="IBT FORMAT"):
        grid_from_excel(missing, sheet="IBT FORMAT")


def test_247_pipeline_through_real_xlsx(spark, tmp_path, sf_dir):
    """Round-trip the 247 allocation pipeline through a REAL workbook:
    fixture grid → .xlsx (with a ~$ lock file and a hidden junk sheet in
    the way) → S1 pair scan → clean → build → equals the direct path."""
    from etl_jetro_spark.pipelines import batch as B
    from etl_jetro_spark.plans import fixtures as FX
    from etl_jetro_spark.sources.excel import (
        grid_from_excel,
        read_allocation_pricesheet,
    )
    from etl_jetro_spark.sources.xlsx import write_xlsx

    grid = FX.allocation_grid(sf_dir)
    folder = tmp_path / "drop"
    folder.mkdir()
    rows = [list(r) for r in grid.itertuples(index=False)]
    write_xlsx(
        str(folder / "Weekly Allocation.xlsx"),
        {"notes": [["ignore me"]], "data": rows},
        states={"notes": "hidden"},
        active=1,
    )
    (folder / "~$Weekly Allocation.xlsx").write_bytes(b"lock")

    alloc, price = read_allocation_pricesheet(str(folder), reader=grid_from_excel)
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
    from etl_jetro_spark.sinks.excel_sink import collect_canonical, write_canonical
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid, sheet_names

    canon = B.build_allocation(
        spark, B.clean_allocation(FX.allocation_grid(sf_dir)), "247",
        base_date="2026-01-05",
    )
    man = write_canonical(collect_canonical(canon), str(tmp_path))
    assert man["xlsx"] and os.path.exists(man["xlsx"])
    assert [n for n, _ in sheet_names(man["xlsx"])] == [
        "Scripting", "ANOMALY", "STORE CLUSTER"
    ]
    g = read_xlsx_grid(man["xlsx"], sheet="Scripting")
    assert list(g.iloc[0][:4]) == ["Branch", "Item", "Description", "Distro Size"]
    assert g.shape[0] == man["rows"] + 1
    edd_col = list(g.iloc[0]).index("Expected Delivery Date")
    assert g.iat[1, edd_col] == "1/7/2026"


# --------------------------------------------------------------------------
# K6 native PDF merge, K7 Graph flow, S6/K8 Sheets transport (un-gated)
# --------------------------------------------------------------------------

def test_pdf_native_merge(tmp_path):
    from etl_jetro_spark.sinks.pdf import (
        combine_pdfs,
        merged_name,
        pdf_page_count,
        write_simple_pdf_bytes,
    )

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


class FakeHttp:
    """Records calls; pops scripted (status, payload) responses."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []

    def __call__(self, method, url, headers=None, form=None, json_body=None):
        self.calls.append(
            {"method": method, "url": url, "headers": headers or {},
             "form": form, "json": json_body}
        )
        return self.responses.pop(0)


def test_graph_device_code_and_send():
    """K7 end-to-end against a fake transport: device flow (pending →
    granted), token reuse, recipient dedupe, default CCs, base64
    attachment, bearer-authorized sendMail."""
    from etl_jetro_spark.sinks import notify

    http = FakeHttp([
        (200, {"user_code": "ABC123", "device_code": "dev-1",
               "message": "visit https://aka.ms/devicelogin and enter ABC123"}),
        (400, {"error": "authorization_pending"}),
        (200, {"access_token": "tok-1"}),
        (202, {}),
    ])
    prompts = []
    store = {}
    auth = notify.DeviceCodeAuth(
        "client-1", "tenant-1", http, token_store=store,
        on_prompt=prompts.append,
    )
    payload = notify.send_email_graph(
        to=["Buyer@x.com; buyer@X.com, other@y.org"],
        subject="POs",
        body_html="<p>hi</p>",
        attachments=[("orders.pdf", b"%PDF-fake")],
        default_cc=["cc@x.com"],
        auth=auth,
        http=http,
    )
    assert prompts and "ABC123" in prompts[0]
    tos = [r["emailAddress"]["address"] for r in payload["message"]["toRecipients"]]
    assert tos == ["Buyer@x.com", "other@y.org"]  # ci-dedupe keeps first casing
    ccs = [r["emailAddress"]["address"] for r in payload["message"]["ccRecipients"]]
    assert ccs == ["cc@x.com"]
    att = payload["message"]["attachments"][0]
    assert att["name"] == "orders.pdf" and att["contentType"] == "application/pdf"
    import base64 as b64

    assert b64.b64decode(att["contentBytes"]) == b"%PDF-fake"
    send = http.calls[-1]
    assert send["url"].endswith("/me/sendMail")
    assert send["headers"]["Authorization"] == "Bearer tok-1"
    assert store["access_token"] == "tok-1"  # cached: next send is silent
    http.responses = [(202, {})]
    notify.send_email_graph(
        to=["a@b.co"], subject="s", body_html="x", auth=auth, http=http
    )
    assert len([c for c in http.calls if "devicecode" in c["url"]]) == 1


def test_sheets_client_fetch_and_writeback(spark):
    """S6 fetch + F12 tab pick + K8 batch write through the adapter."""
    from etl_jetro_spark.sinks.notify import write_status_updates
    from etl_jetro_spark.sources.sheets_client import SheetsClient

    http = FakeHttp([
        (200, {"sheets": [{"properties": {"title": "Mon Orders"}},
                          {"properties": {"title": "Tues Orders"}}]}),
        (200, {"values": [["Note", "Vendor #", "Status"],
                          ["", "79906", "Ready"]]}),
        (200, {"sheets": [{"properties": {"title": "Tues Orders"}}]}),
        (200, {"totalUpdatedCells": 2}),
    ])
    c = SheetsClient("sheet-1", http, token="tok")
    assert c.list_tabs() == ["Mon Orders", "Tues Orders"]
    grid = c.get_all_values("Tues Orders")
    assert grid[1] == ["", "79906", "Ready"]
    assert http.calls[1]["headers"]["Authorization"] == "Bearer tok"

    from datetime import date as _d

    assert c.pick_today_tab(_d(2026, 1, 6)) == "Tues Orders"  # a Tuesday

    updates = spark.createDataFrame(
        [("C2", "SENDING"), ("C5", "Sent")], ["status_a1", "new_status"]
    )
    payload = write_status_updates(updates, client=c)
    assert payload == [
        {"range": "C2", "values": [["SENDING"]]},
        {"range": "C5", "values": [["Sent"]]},
    ]
    assert http.calls[-1]["json"]["data"] == payload
    assert http.calls[-1]["json"]["valueInputOption"] == "RAW"


def test_xlsx_int_sheet_index_and_quoted_names(tmp_path):
    from etl_jetro_spark.sources.excel import grid_from_excel
    from etl_jetro_spark.sources.xlsx import read_xlsx_grid, write_xlsx

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, {'He said "hi"': [["A"]], "second": [["B"]]})
    assert read_xlsx_grid(p, sheet=1).iat[0, 0] == "B"
    assert grid_from_excel(p, sheet=1).iat[0, 0] == "B"
    assert read_xlsx_grid(p, sheet='He said "hi"').iat[0, 0] == "A"
    with pytest.raises(ValueError, match="out of range"):
        read_xlsx_grid(p, sheet=5)


def test_graph_auth_slow_down_backoff_and_expiry():
    from etl_jetro_spark.sinks import notify

    sleeps = []
    now = {"t": 1000.0}
    http = FakeHttp([
        (200, {"user_code": "X", "device_code": "d", "interval": 2}),
        (400, {"error": "authorization_pending"}),
        (400, {"error": "slow_down"}),
        (200, {"access_token": "tok-a", "expires_in": 120}),
    ])
    auth = notify.DeviceCodeAuth(
        "c", "t", http, sleep_fn=sleeps.append, clock_fn=lambda: now["t"]
    )
    assert auth.token() == "tok-a"
    # first poll is immediate; then the interval; then +5 after slow_down
    assert sleeps == [2.0, 7.0]
    # silent reuse while valid; expired -> new device flow
    assert auth.token() == "tok-a" and len(http.calls) == 4
    now["t"] = 1000.0 + 120  # past expires_at (margin 60)
    http.responses = [
        (200, {"user_code": "Y", "device_code": "d2", "interval": 1}),
        (200, {"access_token": "tok-b", "expires_in": 3600}),
    ]
    assert auth.token() == "tok-b"


def test_sheets_client_url_encodes_tab():
    from etl_jetro_spark.sources.sheets_client import SheetsClient

    http = FakeHttp([(200, {"values": [["x"]]})])
    SheetsClient("s", http).get_all_values("Tues 8/12")
    assert http.calls[0]["url"].endswith("/values/Tues%208%2F12")


def test_jsonl_corpus_roundtrip(spark, tmp_path):
    """JSONL ingest: schema enforced, deterministic fingerprint ids, corrupt
    lines quarantined not dropped; partitioned write prunes at the scan."""
    import json

    from etl_jetro_spark.sources.corpus import (
        corrupt_jsonl_lines,
        read_jsonl_corpus,
        write_partitioned_corpus,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    docs = [
        {"text": "hello world one", "lang": "en", "source": "web"},
        {"text": "bonjour le monde", "lang": "fr", "source": "web"},
        {"text": "hello world one", "lang": "en", "source": "crawl"},  # same text
    ]
    with open(src / "part0.jsonl", "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
        f.write("{not valid json\n")

    d = read_jsonl_corpus(spark, str(src))
    rows_ = d.collect()
    assert len(rows_) == 3 and set(d.columns) == {"doc_id", "text", "lang", "source"}
    ids = {r.text: r.doc_id for r in rows_}
    # identical text -> identical deterministic id (fingerprint-derived)
    assert len({r.doc_id for r in rows_}) == 2
    d2 = read_jsonl_corpus(spark, str(src)).collect()
    assert {r.doc_id for r in d2} == {r.doc_id for r in rows_}  # stable re-read

    bad = corrupt_jsonl_lines(spark, str(src)).collect()
    assert len(bad) == 1 and "not valid" in bad[0]._corrupt_record

    out = tmp_path / "laid"
    write_partitioned_corpus(d, str(out), partition_cols=("lang",))
    back = spark.read.parquet(str(out))
    assert back.count() == 3
    plan = (
        back.filter(F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan  # pruning reaches the scan
