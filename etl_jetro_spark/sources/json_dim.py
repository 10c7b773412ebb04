"""Carrier-map JSON dimension source (SURVEY §2.1 S4).

``{store: carrier_code}`` JSON files keyed by a filename token
(salmon/northern/southern) → the dict itself, which the Flips baby plan
applies as a map literal (reference Flips/tools/read_file_tool.py:129-180).
"""

from __future__ import annotations

import json
import os

CARRIER_TOKENS = ("salmon", "northern", "southern")


def pick_carrier_file(file_token: str, base_dir: str) -> str:
    """Choose the carrier JSON whose token appears in the input filename."""
    for tok in CARRIER_TOKENS:
        if tok in file_token:
            path = os.path.join(base_dir, f"{tok}_carrier.json")
            if not os.path.exists(path):
                raise FileNotFoundError(path)
            return path
    raise ValueError(
        f"file token {file_token!r} names no carrier ({'/'.join(CARRIER_TOKENS)})"
    )


def read_carrier_json(file_token: str, base_dir: str) -> dict:
    """The carrier file's ``{store: carrier_code}`` dict."""
    path = pick_carrier_file(file_token, base_dir)
    with open(path, encoding="utf-8") as fh:
        carrier = json.load(fh)
    if not isinstance(carrier, dict):
        raise ValueError(f"{path}: expected a JSON object of store → carrier code")
    return carrier
