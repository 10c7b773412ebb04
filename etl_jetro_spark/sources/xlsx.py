"""Minimal native .xlsx codec (SURVEY §2.1 S1/S2, §2.9 K1 un-gating).

The container has no openpyxl, but .xlsx is a public format — a zip of
OOXML parts — so the engine carries its own small codec and the Excel
ingest/sink paths run for real:

- **reader**: workbook.xml (sheet names, hidden/veryHidden state, active
  tab) + workbook rels + sharedStrings + the worksheet's ``sheetData``
  → a headerless positional grid, matching ``read_excel(header=None)``
  semantics (reference 247/tools/read_file_tool.py:13-121 reads the
  active-visible sheet and skips hidden/veryHidden;
  SouthernCross/tools/read_file_tool.py:55-60 errors when the named
  sheet 'IBT FORMAT' is absent).
- **writer**: the workbook skeleton (:func:`write_xlsx`: sheets in tab
  order, optional hidden/veryHidden states and activeTab) around
  worksheets that :func:`sheet_xml` renders column-wise from an Arrow
  table (inline strings, numbers, booleans, m/d/yyyy dates) — the
  reference's K1 workbook.

Only OOXML workbooks (.xlsx/.xlsm) are read: a legacy binary .xls or a
truncated file is a ``ValueError`` naming the path.

Cell typing mirrors openpyxl: integral numerics → int, others → float,
shared/inline strings → str, booleans → bool. Dates are out of scope
(the reference's sheets carry dates as text the pipelines parse).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_NS = {
    "m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
    "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
    "rel": "http://schemas.openxmlformats.org/package/2006/relationships",
}


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 (A1-codec column part)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def col_letters(idx: int) -> str:
    """0→'A', 25→'Z', 26→'AA'."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def _cell_value(c: ET.Element, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(
            tt.text or "" for tt in c.findall(".//m:t", _NS)
        )
    v = c.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t in ("str",):
        return v.text
    if t == "b":
        return v.text == "1"
    txt = v.text
    if re.fullmatch(r"-?\d+", txt):
        return int(txt)
    try:
        return float(txt)
    except ValueError:  # pragma: no cover - malformed numeric cell
        return txt


class WorkbookInfo:
    """Parsed workbook metadata: [(name, state, part_path)], active index."""

    def __init__(self, sheets: list[tuple[str, str, str]], active: int):
        self.sheets = sheets
        self.active = active

    def visible(self) -> list[tuple[str, str]]:
        return [(n, p) for n, s, p in self.sheets if s == "visible"]


def _workbook_info(zf: zipfile.ZipFile) -> WorkbookInfo:
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    target_by_rid = {}
    for rel in rels.findall("rel:Relationship", _NS):
        # targets are relative to xl/; some writers emit absolute "/xl/..."
        t = rel.get("Target", "").lstrip("/")
        target_by_rid[rel.get("Id")] = t if t.startswith("xl/") else f"xl/{t}"
    sheets = []
    for sh in wb.findall(".//m:sheets/m:sheet", _NS):
        rid = sh.get(f"{{{_NS['r']}}}id")
        sheets.append(
            (sh.get("name"), sh.get("state", "visible"), target_by_rid[rid])
        )
    view = wb.find(".//m:bookViews/m:workbookView", _NS)
    active = int(view.get("activeTab", "0")) if view is not None else 0
    return WorkbookInfo(sheets, active)


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall("m:si", _NS):
        out.append("".join(t.text or "" for t in si.findall(".//m:t", _NS)))
    return out


def _sheet_grid(zf: zipfile.ZipFile, part: str, shared: list[str]) -> pd.DataFrame:
    root = ET.fromstring(zf.read(part))
    cells: dict[tuple[int, int], object] = {}
    max_r = max_c = -1
    for row in root.findall(".//m:sheetData/m:row", _NS):
        for c in row.findall("m:c", _NS):
            ref = c.get("r", "")
            m = re.fullmatch(r"([A-Z]+)(\d+)", ref)
            if not m:  # pragma: no cover - refless cells unsupported
                continue
            ri, ci = int(m.group(2)) - 1, _col_index(m.group(1))
            val = _cell_value(c, shared)
            if val is not None:
                cells[(ri, ci)] = val
                max_r, max_c = max(max_r, ri), max(max_c, ci)
    if max_r < 0:
        return pd.DataFrame()
    data = [
        [cells.get((r, c)) for c in range(max_c + 1)] for r in range(max_r + 1)
    ]
    return pd.DataFrame(data, dtype=object)


def _open_workbook(path: str) -> zipfile.ZipFile:
    try:
        return zipfile.ZipFile(path)
    except zipfile.BadZipFile as e:
        raise ValueError(
            f"cannot read workbook {path}: {e}; only OOXML workbooks "
            "(.xlsx/.xlsm) are read, so save a legacy .xls as .xlsx"
        ) from e


def read_xlsx_grid(path: str, sheet: str | None = None) -> pd.DataFrame:
    """Raw positional grid from a worksheet.

    ``sheet`` named → that sheet, error when absent (SouthernCross
    'IBT FORMAT' behavior). Unnamed → the ACTIVE sheet if visible, else
    the first visible sheet; hidden/veryHidden sheets are never picked
    (reference read_file_tool.py:83-101)."""
    with _open_workbook(path) as zf:
        info = _workbook_info(zf)
        shared = _shared_strings(zf)
        if sheet is not None:
            for name, _state, part in info.sheets:
                if name == sheet:
                    return _sheet_grid(zf, part, shared)
            raise ValueError(f"worksheet {sheet!r} not found in {path}")
        visible = info.visible()
        if not visible:
            raise ValueError(f"no visible worksheet in {path}")
        act_name, act_state, act_part = info.sheets[info.active] if info.active < len(
            info.sheets
        ) else (None, "hidden", None)
        if act_state == "visible":
            return _sheet_grid(zf, act_part, shared)
        return _sheet_grid(zf, visible[0][1], shared)


# --------------------------------------------------------------------------
# writer
# --------------------------------------------------------------------------

_SHEET_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<worksheet xmlns="{_NS["m"]}"><sheetData>'
).encode()
_SHEET_TAIL = b"</sheetData></worksheet>"
_INLINE = ' t="inlineStr"><is><t xml:space="preserve">', "</t></is></c>"
_NUMBER = "><v>", "</v></c>"
_BOOL = ' t="b"><v>', "</v></c>"


def _escaped(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """XML text of each string: ``&``, ``<`` and ``>`` escaped."""
    for old, new in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        col = pc.replace_substring(col, old, new)
    return col


def _cell_text(col: pa.ChunkedArray) -> tuple[tuple[str, str], pa.ChunkedArray | pa.Array]:
    """The cell form of a column (its ``<c>`` attributes and value tags)
    and each value's text, null where the cell is blank."""
    t = col.type
    if pa.types.is_boolean(t):
        return _BOOL, pc.if_else(col, "1", "0")
    if pa.types.is_integer(t):
        return _NUMBER, pc.cast(col, pa.string())
    if pa.types.is_floating(t):  # Python's repr, the shortest round-trip text
        values = pc.fill_null(col, float("nan")).to_numpy().tolist()
        return _NUMBER, pa.array([None if v != v else repr(v) for v in values], pa.string())
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _INLINE, _escaped(col)
    if pa.types.is_date(t) or pa.types.is_timestamp(t):  # m/d/yyyy, the K1 format
        parts = (pc.cast(f(col), pa.string()) for f in (pc.month, pc.day, pc.year))
        return _INLINE, pc.binary_join_element_wise(*parts, "/")
    raise TypeError(f"no worksheet cell form for a {t} column")


def _joined(arr: pa.ChunkedArray | pa.Array) -> bytes:
    """The values of a string array, back to back."""
    chunks = arr.chunks if isinstance(arr, pa.ChunkedArray) else [arr]
    out = []
    for c in chunks:
        if len(c):
            offsets = pa.Array.from_buffers(
                pa.int32(), len(c) + 1, [None, c.buffers()[1]], offset=c.offset
            )
            lo, hi = offsets[0].as_py(), offsets[-1].as_py()
            out.append(c.buffers()[2].to_pybytes()[lo:hi])
    return b"".join(out)


def sheet_xml(table: pa.Table) -> bytes:
    """Worksheet XML of ``table``: a header row of its column names, then
    a row per table row. Integers and floats are numbers (a float as its
    Python ``repr``; NaN blank), booleans booleans, strings inline strings
    and dates inline m/d/yyyy text; a null is no cell. Each column's cell
    texts are rendered column-wise by ``pyarrow.compute`` and each row is
    one element-wise join of them. A table with no columns is an empty
    sheet."""
    if table.num_columns == 0:
        return _SHEET_HEAD + _SHEET_TAIL
    letters = [col_letters(ci) for ci in range(table.num_columns)]
    header = "".join(
        f'<c r="{letter}1"{_INLINE[0]}{escape(name)}{_INLINE[1]}'
        for letter, name in zip(letters, table.column_names)
    )
    body = b""
    if table.num_rows:
        nums = pc.cast(pa.array(range(2, table.num_rows + 2), pa.int64()), pa.string())
        parts: list = ['<row r="', nums, '">']
        for letter, col in zip(letters, table.columns):
            if col.null_count == len(col):
                continue
            (attrs, close), text = _cell_text(col)
            cell = [f'<c r="{letter}', nums, f'"{attrs}', text, close]
            # a cell with a null text is joined first, so the null drops it whole
            parts += [pc.binary_join_element_wise(*cell, "")] if text.null_count else cell
        body = _joined(pc.binary_join_element_wise(*parts, "</row>", "", null_handling="skip"))
    return b"".join((
        _SHEET_HEAD, f'<row r="1">{header}</row>'.encode(), body, _SHEET_TAIL
    ))


def write_xlsx(
    path: str,
    sheets: dict[str, bytes],
    states: dict[str, str] | None = None,
    active: int = 0,
) -> str:
    """Write a workbook: the package skeleton around each sheet's
    worksheet XML (:func:`sheet_xml`). ``sheets`` maps name → worksheet
    XML, in tab order; ``states`` maps name → visible|hidden|veryHidden
    (default visible); ``active`` is the activeTab index."""
    states = states or {}
    names = list(sheets)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f"{overrides}</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_NS["rel"]}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        sheet_tags = "".join(
            f'<sheet name="{escape(n, {chr(34): "&quot;"})}" sheetId="{i + 1}"'
            + (
                f' state="{states[n]}"'
                if states.get(n, "visible") != "visible"
                else ""
            )
            + f' r:id="rId{i + 1}"/>'
            for i, n in enumerate(names)
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS["m"]}" xmlns:r="{_NS["r"]}">'
            f'<bookViews><workbookView activeTab="{active}"/></bookViews>'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_NS["rel"]}">{rels}</Relationships>',
        )
        for i, n in enumerate(names):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheets[n])
    return path
