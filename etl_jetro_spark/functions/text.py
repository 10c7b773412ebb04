"""Text/string scalar functions (SURVEY §2.8 F1–F8), each one SQL text.

Every helper is defined once, as a renderer ``<name>_sql(x)`` that takes
the SQL text of its argument (``sqltext.ident(name)`` for a column) and
returns the SQL text of the result, with every literal and regex quoted
by ``sqltext.string_lit``. A DataFrame caller passes it to ``F.expr`` or
``selectExpr``: one Py4J call, where a chain of ``F.*`` calls costs one
round trip per call, and the same Catalyst expression. No Python UDFs:
the whole family stays inside whole-stage codegen.

The rules the driver applies to Python strings (sheet headers, store
labels, control-sheet cells, map keys) sit beside their renderers as
``<name>_text(s)``, each defined once.

Reference behaviors re-expressed (file:line cites into /root/reference/):
- F1 whitespace/hidden-char normalization: Flips/tools/big_flip_tool.py:10-15,
  Flips/tools/baby_flip_tool.py:357-366, sheet_bot/utils.py:37-45
- F2 trailing ``.0``/``.00`` strip: sheet_bot/utils.py:47-52,
  247/tools/pricesheet_tool.py:222-231
- F3 numeric extraction (leading/first-int, paren & trailing-minus
  negatives): Flips/tools/big_flip_tool.py:17-51, baby_flip_tool.py:52-58
- F4 item code zfill(7): 247/tools/allocation_tool.py:209-218
- F5 money 2dp: 247/tools/pricesheet_tool.py:147-155
- F6 split on first dash (-, en, em): 247/tools/read_file_tool.py:181-186
- F7/F8 regex extraction (stores from paths, emails): sheet_bot/main.py:52-84,
  sheet_bot/import_vendor_email.py:10
"""

from __future__ import annotations

import re

from etl_jetro_spark.sqltext import string_lit

# zero-width space, BOM, non-breaking space — the reference strips these from
# headers and cells (big_flip_tool.py:12).
HIDDEN_CHARS = "\u200b\ufeff\xa0"
_HIDDEN_TABLE = dict.fromkeys(map(ord, HIDDEN_CHARS), None)

# Unicode dash family the reference splits PO lines on (read_file_tool.py:181).
DASH_CLASS = "[-–—]"

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

# Regex and character-set literals, quoted once for the SQL text.
_HIDDEN = string_lit(HIDDEN_CHARS)
_WS_RUN = string_lit(r"\s+")
_KEY_JUNK_RE = r"[#\s]"
_DOT_ZERO_RE = r"\.0{1,2}$"
_KEY_JUNK = string_lit(_KEY_JUNK_RE)
_DOT_ZERO = string_lit(_DOT_ZERO_RE)
_MONEY_JUNK = string_lit(r"[$,()\s]|-$")
_LEADING_NUM = string_lit(r"^(-?\d*\.?\d+)")
_PAREN_NEG = string_lit(r"^\(.*\)$")
_TRAIL_NEG = string_lit(r"^[^()]*-\s*$")
_DIGIT_RUN = string_lit(r"(\d+)")
_NON_DIGIT = string_lit(r"\D")
_DASH = string_lit(DASH_CLASS)
_PDF_STORE = string_lit(r"-(\d+)-\d+\.pdf$")
_EMAIL_GROUP = string_lit("(" + EMAIL_RE + ")")


def _try_double(num: str) -> str:
    """A regex-extracted number text as DOUBLE; no match ('') → NULL."""
    return f"try_cast(nullif({num}, '') AS DOUBLE)"


# --- F1: normalization -------------------------------------------------

def strip_hidden_sql(x: str) -> str:
    """Remove zero-width/BOM/nbsp characters."""
    return f"translate({x}, {_HIDDEN}, '')"


def strip_hidden_text(s: str) -> str:
    """:func:`strip_hidden_sql` on a Python string."""
    return s.translate(_HIDDEN_TABLE)


def norm_ws_sql(x: str) -> str:
    """Hidden characters removed, then trim + collapse internal whitespace
    runs to single spaces."""
    return f"trim(regexp_replace({strip_hidden_sql(x)}, {_WS_RUN}, ' '))"


def norm_key_sql(x: str) -> str:
    """Lowercased, ``#``-less, space-less join/lookup key.

    The reference normalizes header and dict keys this way before matching
    (big_flip_tool.py:29-30, utils.py:37-45).
    """
    return f"regexp_replace(lower({norm_ws_sql(x)}), {_KEY_JUNK}, '')"


def norm_key_text(s: object) -> str:
    """The driver's header/marker/map-key match key: ``str(s)`` trimmed,
    lowercased, with every ``#`` and whitespace character (``str.isspace``)
    removed. Unlike :func:`norm_key_sql` it keeps the zero-width space
    and the BOM, and it removes non-ASCII whitespace such as U+2003, which
    Java's ``\\s`` does not match."""
    return re.sub(_KEY_JUNK_RE, "", str(s).strip().lower())


# --- F2: trailing .0 strip ---------------------------------------------

def strip_dot_zero_sql(x: str) -> str:
    """``'14.0'``→``'14'``, ``'14.00'``→``'14'``, but ``'14.50'`` unchanged."""
    return f"regexp_replace(CAST({x} AS STRING), {_DOT_ZERO}, '')"


def strip_dot_zero_text(s: str) -> str:
    """``s`` trimmed, then :func:`strip_dot_zero_sql`'s rule
    (``' 449.0 '`` → ``'449'``)."""
    return re.sub(_DOT_ZERO_RE, "", s.strip())


# --- F3: numbers hidden in text -----------------------------------------

def parse_money_sql(x: str) -> str:
    """Leading numeric token with ``$``/commas; ``(123.4)`` and ``123-`` are
    negative; non-numeric → NULL.  (big_flip_tool.py:17-31)"""
    s = norm_ws_sql(x)
    cleaned = f"regexp_replace({s}, {_MONEY_JUNK}, '')"
    val = _try_double(f"regexp_extract({cleaned}, {_LEADING_NUM}, 1)")
    neg = f"{s} RLIKE {_PAREN_NEG} OR {s} RLIKE {_TRAIL_NEG}"
    return f"CASE WHEN {neg} THEN -abs({val}) ELSE {val} END"


def first_int_sql(x: str) -> str:
    """First integer chunk in the text, NULL if none. (big_flip_tool.py:44-51)"""
    num = f"regexp_extract(CAST({x} AS STRING), {_DIGIT_RUN}, 1)"
    return f"try_cast(nullif({num}, '') AS BIGINT)"


# --- F4: item code ------------------------------------------------------

def item7_sql(x: str) -> str:
    """Digits only, zero-padded to 7 (``'12345'``→``'0012345'``); NULL/empty
    → NULL. zfill semantics: 8+ digit codes pass through unchanged (Spark's
    lpad would TRUNCATE them). (247/tools/allocation_tool.py:209-218)"""
    digits = f"regexp_replace({strip_dot_zero_sql(x)}, {_NON_DIGIT}, '')"
    padded = f"CASE WHEN length({digits}) >= 7 THEN {digits} ELSE lpad({digits}, 7, '0') END"
    return f"CASE WHEN {digits} = '' THEN NULL ELSE {padded} END"


# --- F5: money formatting ----------------------------------------------

def money2dp_sql(x: str) -> str:
    """Format as fixed 2-decimal string (Decimal semantics, no float drift)."""
    return f"format_number(CAST({x} AS DECIMAL(18,2)), 2)"


# --- F6: split on first dash -------------------------------------------

def split_first_dash_sql(x: str) -> str:
    """Split into [left, right] on the FIRST -, en-dash, or em-dash."""
    return f"split({x}, {_DASH}, 2)"


# --- F7/F8: regex extraction -------------------------------------------

def extract_store_from_pdf_name_sql(x: str) -> str:
    """``...-<store>-<po>.pdf`` → store. (sheet_bot/main.py:52-84)"""
    return f"regexp_extract({x}, {_PDF_STORE}, 1)"


def extract_emails_sql(x: str) -> str:
    """All well-formed emails in free text, case-insensitively deduped,
    first-occurrence casing kept. (sheet_bot/import_vendor_email.py:10-26)"""
    found = f"regexp_extract_all({x}, {_EMAIL_GROUP}, 1)"
    # dedupe by lowercase while keeping first-seen original casing
    step = (
        "CASE WHEN exists(acc, y -> lower(y) = lower(e)) THEN acc "
        "ELSE array_append(acc, e) END"
    )
    return f"aggregate({found}, CAST(array() AS ARRAY<STRING>), (acc, e) -> {step})"
