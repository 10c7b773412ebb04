"""PDF merge sink (SURVEY §2.9 K6).

The reference merges per-PO PDFs into ``"{n} orders {MM-DD-YY}.pdf"``
(247/tools/combine_pdf_tool.py:7-62, dup ×5; sheet_bot/utils.py:410-449).
PDF is a public format, so the engine carries a minimal native codec —
a classic-xref parser/merger plus a tiny writer for tests — and the merge
runs with no optional dependencies; pypdf is preferred when installed
(richer format support: xref streams, encryption, inherited attributes).

Native-codec scope (documented limitation): classic cross-reference
tables, flat /Pages trees, streams that don't contain the literal
``endobj``. That covers the simple per-PO order PDFs this sink exists
for; exotic files should go through pypdf.
"""

from __future__ import annotations

import os
import re
from datetime import date

try:  # pragma: no cover
    from pypdf import PdfWriter

    HAVE_PDF = True
except ImportError:
    try:  # pragma: no cover
        from PyPDF2 import PdfMerger as PdfWriter  # type: ignore

        HAVE_PDF = True
    except ImportError:
        HAVE_PDF = False


def merged_name(n_files: int, run_date: date) -> str:
    return f"{n_files} orders {run_date.strftime('%m-%d-%y')}.pdf"


# --------------------------------------------------------------------------
# native codec
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


def _write_pdf(kids: list[int], objs: list[bytes]) -> bytes:
    """Serialize a PDF whose object 1 is the catalog, object 2 the pages
    tree over ``kids`` and objects 3… are ``objs``: each object, a classic
    xref table and the trailer."""
    kids_s = " ".join(f"{n} 0 R" for n in kids)
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids_s}] /Count {len(kids)} >>".encode(),
        *objs,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets: list[int] = []
    for i, body in enumerate(bodies, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(bodies) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(bodies) + 1, xref_at)
    )
    return bytes(out)


def write_simple_pdf_bytes(pages: list[str]) -> bytes:
    """A minimal valid PDF: one Helvetica text line per page."""
    n_pages = len(pages)
    objs: list[bytes] = []
    for i, text in enumerate(pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {3 + 2 * n_pages} 0 R >> >> "
            f"/Contents {4 + 2 * i} 0 R >>".encode()
        )
        safe = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        stream = f"BT /F1 12 Tf 72 720 Td ({safe}) Tj ET".encode()
        objs.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _write_pdf([3 + 2 * i for i in range(n_pages)], objs)


def _parse_objects(data: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(3).strip() for m in _OBJ_RE.finditer(data)}


def _root_pages_and_kids(data: bytes, objs: dict[int, bytes]) -> tuple[int, int, list[int]]:
    roots = re.findall(rb"/Root\s+(\d+)\s+\d+\s+R", data)
    if not roots:
        raise ValueError("no /Root in trailer — not a classic-xref PDF")
    root = int(roots[-1])
    m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", objs[root])
    if not m:
        raise ValueError("catalog has no /Pages")
    pages = int(m.group(1))
    kids_m = re.search(rb"/Kids\s*\[(.*?)\]", objs[pages], re.S)
    kids = [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", kids_m.group(1))]
    return root, pages, kids


def _renumber(body: bytes, mapping: dict[int, int]) -> bytes:
    """Rewrite ``N G R`` references in the dict part; stream payloads are
    left untouched (split at the first ``stream`` keyword)."""
    m = re.search(rb"\bstream\b", body)
    head, tail = (body[: m.start()], body[m.start():]) if m else (body, b"")
    fixed = _REF_RE.sub(
        lambda r: b"%d %s R" % (mapping.get(int(r.group(1)), int(r.group(1))), r.group(2)),
        head,
    )
    return fixed + tail


def merge_pdfs_bytes(inputs: list[bytes]) -> bytes:
    """Merge classic-xref PDFs: every page of every input, in order, under
    one new catalog/pages tree; all other objects copied with renumbering."""
    new_objs: list[bytes] = []  # bodies; object number = index + 3
    all_pages: list[int] = []
    next_num = 3
    for data in inputs:
        objs = _parse_objects(data)
        root, pages, kids = _root_pages_and_kids(data, objs)
        mapping: dict[int, int] = {}
        copy_nums = [n for n in sorted(objs) if n not in (root, pages)]
        for n in copy_nums:
            mapping[n] = next_num
            next_num += 1
        mapping[pages] = 2  # old pages-tree refs point at the merged tree
        for n in copy_nums:
            new_objs.append(_renumber(objs[n], mapping))
        all_pages += [mapping[k] for k in kids]

    return _write_pdf(all_pages, new_objs)


def combine_pdfs(folder: str, out_dir: str, run_date: date) -> str:
    """Merge all .pdf files in ``folder`` (sorted) into the counted output
    name — pypdf when installed, else the native classic-xref merger."""
    files = sorted(
        os.path.join(folder, f)
        for f in os.listdir(folder)
        if f.lower().endswith(".pdf")
    )
    out_path = os.path.join(out_dir, merged_name(len(files), run_date))
    os.makedirs(out_dir, exist_ok=True)
    if HAVE_PDF:  # pragma: no cover - pypdf absent in this container
        merger = PdfWriter()
        for f in files:
            merger.append(f)
        with open(out_path, "wb") as fh:
            merger.write(fh)
        return out_path
    merged = merge_pdfs_bytes([open(f, "rb").read() for f in files])
    with open(out_path, "wb") as fh:
        fh.write(merged)
    return out_path
