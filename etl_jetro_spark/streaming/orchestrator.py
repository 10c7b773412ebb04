"""Vendor-orchestration state machine (SURVEY §2.10 T2–T4).

The reference's control loop (sheet_bot/main.py:336-395): every 60 s, parse
the day's sheet, lock ``Ready`` rows to ``SENDING`` (so a second tick can't
double-pick them), fan vendors out to workers, and finalize each to
``Sent`` or ``ERROR`` with the missing-PO detail. A tick handles at most a
few hundred (vendor, PO) pairs, so the transitions are pure Python over the
``VendorRow`` list of ``sources.sheet.parse_sections`` — deterministic,
testable, and runnable without a Spark session. Like the reference's
``retrieve_pdf(po_df, output_folder, *watch_folders)``, a tick keeps one
watch over every Ready row's POs, and one poll is one pass over every
watch folder.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from etl_jetro_spark.sources.sheet import VendorRow
from etl_jetro_spark.streaming import snapshot as S

READY, SENDING, SENT, ERROR = "Ready", "SENDING", "Sent", "ERROR"


def select_ready(rows: Iterable[VendorRow]) -> list[VendorRow]:
    """Rows eligible for pickup: status Ready (T2 lock precondition)."""
    return [r for r in rows if r.status == READY]


def expected_pos_for_vendor(control_row_stores: dict[str, str]) -> list[str]:
    """Order-preserving distinct PO list from a vendor row's stores map
    (D1, reference sheet_bot/sheets.py:227-250)."""
    return list(dict.fromkeys(v for v in control_row_stores.values() if v))


def finalize(
    expected: Iterable[tuple[str, str, str]], status: Iterable[tuple[str, str]]
) -> list[tuple[str, str, str, str | None]]:
    """Terminal transition per vendor: Sent iff every expected PO reached
    ``done`` (under any vendor's watch); else ERROR with the sorted missing
    POs as detail (set difference D3, reference main.py:309-314).

    ``expected``: (vendor_num, status_a1, po); ``status``: (po, status).
    Returns (vendor_num, status_a1, new_status, detail) per vendor row.
    """
    done = {po for po, s in status if s == "done"}
    missing: dict[tuple[str, str], list[str]] = {}
    for vendor, a1, po in expected:
        pos = missing.setdefault((vendor, a1), [])
        if po not in done:
            pos.append(po)
    return [
        (vendor, a1, ERROR, "missing: " + ",".join(sorted(pos))) if pos
        else (vendor, a1, SENT, None)
        for (vendor, a1), pos in missing.items()
    ]


def orchestrate_tick(
    spark,
    control_grid: list[list[str]],
    watch_dirs: list[str],
    dest_dir: str,
    deadline_polls: int = 600,
    poll_fn: Callable[[S.WatchState, str], None] | None = None,
) -> dict:
    """One full control-loop tick — the reference's ``main()`` body
    (sheet_bot/main.py:336-395) as a deterministic function:

    parse sections → select Ready → lock (Ready→SENDING payload) →
    pre-check one watch over every Ready row's POs → poll it until every
    PO settles or the deadline → finalize (Sent/ERROR payload).

    ``spark`` is unused (the tick needs no session; pass ``None``).
    ``poll_fn(state, dest_dir) -> None`` drives the pre-checked watch until
    done/deadline; the default polls with no sleep (tests and batch
    replays), each poll one ``snapshot.poll_step`` over the listings of
    ``watch_dirs`` in order, so it needs at least one directory and raises
    ValueError on an empty list. A PO that two rows expect is watched and
    moved once. Returns a manifest with both write-back payloads, the final
    per-PO status and each ERROR row's reason. Every locked row ends Sent
    or ERROR; a row with no expected PO is ERROR.
    """
    if poll_fn is None and not watch_dirs:
        raise ValueError("orchestrate_tick: watch_dirs is empty and no poll_fn is given")
    # looked up per call so perfbench's attribute wrappers see every call
    from etl_jetro_spark.sinks.notify import status_update_payload
    from etl_jetro_spark.sources.sheet import parse_sections

    ready = select_ready(parse_sections(control_grid))
    lock_payload = [
        {"range": r.status_a1, "values": [[SENDING]]} for r in sorted(
            ready, key=lambda r: r.status_a1
        )
    ]

    expected_rows = []
    final = []
    for r in ready:
        pos = expected_pos_for_vendor(r.stores)
        if not pos:
            final.append((r.vendor_num, r.status_a1, ERROR, "no expected POs"))
        expected_rows += [(r.vendor_num, r.status_a1, po) for po in pos]
    st = S.new_watch([po for _, _, po in expected_rows], deadline_polls=deadline_polls)
    S.precheck_dest(st, dest_dir)
    if poll_fn is None:
        while st.pending():
            S.poll_step(st, [f for d in watch_dirs for f in S.list_dir(d)], dest_dir)
    else:
        poll_fn(st, dest_dir)

    final += finalize(expected_rows, st.status.items())
    return {
        "lock": lock_payload,
        "final": status_update_payload((a1, new) for _, a1, new, _ in final),
        "po_status": dict(st.status),
        "errors": {a1: detail for _, a1, new, detail in final if new == ERROR},
    }
