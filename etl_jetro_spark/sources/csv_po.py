"""PO-drop CSV source (SURVEY §2.1 S3).

The reference picks the most-recent ``.csv`` by mtime, reads one PO per
line with an encoding-fallback chain, keeps NA-like-free lines containing a
dash, and splits ``Store-Item`` on the first dash of any unicode width
(reference 247/tools/read_file_tool.py:123-196, duplicated ×6).

A PO drop holds at most a few hundred lines, so the file is parsed on the
driver into plain ``(PO #, Store, Item)`` tuples; the Flips baby plan
carries them as a literal (``pipelines.batch.build_baby_flip``).
"""

from __future__ import annotations

import glob
import os
import re

from etl_jetro_spark.functions.na import NA_STRINGS
from etl_jetro_spark.functions.text import DASH_CLASS

# Spark's text reader breaks lines on \n, \r\n and a lone \r — not on the
# other separators ``str.splitlines`` knows (\x0b, \x0c, \x85, U+2028, …).
_LINE_BREAK = re.compile(r"\r\n|\r|\n")
_DASH = re.compile(DASH_CLASS)


def latest_csv(folder: str) -> str | None:
    """Most recently modified .csv in the folder (A5 argmax-by-mtime)."""
    files = glob.glob(os.path.join(folder, "*.csv"))
    return max(files, key=os.path.getmtime) if files else None


def _decode(raw: bytes) -> str:
    """Reference encoding-fallback chain (utf-8-sig → utf-16 → latin1 →
    ignore-errors, 247/tools/read_file_tool.py:157-167): UTF-16 when the
    file starts with its BOM, otherwise UTF-8 with invalid bytes replaced
    by U+FFFD."""
    if raw.startswith((b"\xff\xfe", b"\xfe\xff")):
        return raw.decode("utf-16")
    return raw.decode("utf-8", errors="replace")


def read_po_lines(path: str) -> list[tuple[str, str, str]]:
    """Parse a PO-per-line file into ``(PO #, Store, Item)`` rows, in file
    order. A line loses one leading U+FEFF and its surrounding ASCII
    spaces (tabs stay, as with Spark's ``trim``); NA-like and dash-free
    lines are dropped (P9); the rest split on the first dash."""
    with open(path, "rb") as fh:
        text = _decode(fh.read())
    rows = []
    for line in _LINE_BREAK.split(text):
        po = line.removeprefix("\ufeff").strip(" ")
        if po.lower() in NA_STRINGS or not _DASH.search(po):
            continue
        store, item = _DASH.split(po, maxsplit=1)
        rows.append((po, store.strip(" "), item.strip(" ")))
    return rows


def read_latest_po_csv(folder: str) -> list[tuple[str, str, str]]:
    path = latest_csv(folder)
    if path is None:
        raise FileNotFoundError(f"no .csv files in {folder}")
    return read_po_lines(path)
