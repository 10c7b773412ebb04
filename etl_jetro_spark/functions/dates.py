"""Date scalar functions (SURVEY §2.8 F9–F12), each one SQL text.

The reference stamps ``date.today()`` in ≥8 places; here every function takes
an explicit base date so pipelines are deterministic and testable (inject the
clock — SURVEY §7 hard-part 4): a renderer ``<name>_sql(x)`` over the SQL
text of the base (``CAST('2026-01-06' AS DATE)`` for a run date, whose
nullability the canonical schema keeps; a ``DATE'…'`` literal would declare
it NOT NULL), as in ``functions/text.py``. :func:`epoch_seconds_ntz`, a
catalog helper whose callers pass timestamp expressions, is a Column
composition.

Reference behaviors (cites into /root/reference/):
- F9  default EDD = today+2, weekend rolls to Monday, ``m/d/YYYY`` no leading
  zeros: 247/tools/allocation_tool.py:115-121
- F10 next Mon/Wed/Fri shipping day, Chicago clock:
  Flips/tools/big_flip_tool.py:247-259
- F11 tolerant reformat ``%m/%d/%Y``→``%m/%d/%y`` (fallback: input unchanged):
  247/tools/allocation_tool.py:220-228
- F12 weekday worksheet prefix Mon/Tues/Wed/Thurs/Fri: sheet_bot/utils.py:25-35
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_jetro_spark.sqltext import string_lit


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dow_case(dow: str, cases: dict[int, object], default: object) -> str:
    whens = " ".join(f"WHEN {dow} = {k} THEN {v}" for k, v in cases.items())
    return f"CASE {whens} ELSE {default} END"


def default_edd_sql(base: str) -> str:
    """base+2 days; if that lands Sat/Sun, roll forward to Monday.

    Spark ``dayofweek``: 1=Sun..7=Sat.
    """
    d = f"date_add(CAST({base} AS DATE), 2)"
    # Sat -> Mon (+2), Sun -> Mon (+1)
    return _dow_case(f"dayofweek({d})", {7: f"date_add({d}, 2)", 1: f"date_add({d}, 1)"}, d)


def next_mwf_sql(base: str) -> str:
    """Next strictly-later Mon/Wed/Fri after ``base``.

    Mon(2)->Wed(+2), Tue(3)->Wed(+1), Wed(4)->Fri(+2), Thu(5)->Fri(+1),
    Fri(6)->Mon(+3), Sat(7)->Mon(+2), Sun(1)->Mon(+1).
    """
    d = f"CAST({base} AS DATE)"
    delta = _dow_case(f"dayofweek({d})", {2: 2, 3: 1, 4: 2, 5: 1, 6: 3, 7: 2}, 1)
    return f"date_add({d}, {delta})"


def fmt_mdy_no_pad_sql(x: str) -> str:
    """``m/d/yyyy`` with no leading zeros (reference EDD display format)."""
    return f"date_format(CAST({x} AS DATE), 'M/d/yyyy')"


def reformat_date_tolerant_sql(x: str) -> str:
    """Parse ``M/d/yyyy`` (or ISO) and re-emit ``MM/dd/yy``; unparseable
    values pass through unchanged (reference fallback behavior)."""
    s = f"CAST({x} AS STRING)"
    parsed = "coalesce(" + ", ".join(
        f"try_to_timestamp({s}, {string_lit(fmt)})" for fmt in ("M/d/yyyy", "M-d-yy", "yyyy-MM-dd")
    ) + ")"
    return f"CASE WHEN {parsed} IS NOT NULL THEN date_format({parsed}, 'MM/dd/yy') ELSE {s} END"


# Weekday → worksheet-tab prefix table (sheet_bot/utils.py:29-35).
WEEKDAY_PREFIX = {"Mon": "Mon", "Tue": "Tues", "Wed": "Wed", "Thu": "Thurs", "Fri": "Fri"}


def weekday_prefix_sql(x: str) -> str:
    """Mon/Tues/Wed/Thurs/Fri prefix for picking the day's worksheet tab."""
    abbrev = f"date_format(CAST({x} AS DATE), 'E')"
    whens = " ".join(
        f"WHEN {abbrev} = {string_lit(k)} THEN {string_lit(v)}" for k, v in WEEKDAY_PREFIX.items()
    )
    return f"CASE {whens} ELSE NULL END"


def epoch_seconds_ntz(col: str | Column) -> Column:
    """Epoch seconds (BIGINT, floor) of a timestamp WITHOUT timezone,
    treating the wall clock as UTC — engine-portable: matches DuckDB's
    ``floor(epoch(ts))`` on naive timestamps regardless of the Spark
    session timezone (which is pinned to the reference's business tz,
    see session.SESSION_TZ). A plain ``cast("long")`` is rejected for
    TIMESTAMP_NTZ and ``unix_timestamp`` would re-interpret the wall
    clock in the session zone; ``unix_date`` + wall-clock fields are
    tz-free by construction.
    """
    c = _c(col)
    return (
        F.unix_date(c.cast("date")).cast("long") * 86400
        + F.hour(c) * 3600
        + F.minute(c) * 60
        + F.second(c)
    ).cast("long")
