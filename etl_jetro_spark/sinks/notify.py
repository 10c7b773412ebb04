"""Notification sinks (SURVEY §2.9 K7/K8).

K7: the MS Graph ``me/sendMail`` request for a vendor's merged PO PDF —
recipient normalization, base64 file attachments and the JSON payload
(reference sheet_bot/email_sender.py:67-175). The package holds no
transport: a caller that sends mail POSTs the payload itself.

K8: Google Sheet status write-back — the reference batches A1-addressed
updates (sheets.py:182-189). The engine plans the update, (status_a1,
new_status) pairs → the [{range, values}] payload; the PO control tick
returns it, and the caller applies it to the sheet.

Both payloads are idempotent per (key, status), so a replayed tick is
safe.
"""

from __future__ import annotations

import base64
import mimetypes
import re
from collections.abc import Iterable

_EMAIL_FULL = re.compile(r"^[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}$")


def as_recipients(addresses: Iterable[str]) -> list[dict]:
    """Graph recipient list: split on ``;``/``,``, trim, validate,
    case-insensitive dedupe keeping first casing
    (reference email_sender.py:67-92)."""
    out, seen = [], set()
    for item in addresses or []:
        for addr in re.split(r"[;,]", str(item)):
            addr = addr.strip()
            if not addr or not _EMAIL_FULL.fullmatch(addr):
                continue
            if addr.lower() in seen:
                continue
            seen.add(addr.lower())
            out.append({"emailAddress": {"address": addr}})
    return out


def file_attachment(name: str, data: bytes) -> dict:
    """Graph fileAttachment: guessed content type + base64 bytes
    (reference email_sender.py:95-107)."""
    ctype = mimetypes.guess_type(name)[0] or "application/octet-stream"
    return {
        "@odata.type": "#microsoft.graph.fileAttachment",
        "name": name,
        "contentType": ctype,
        "contentBytes": base64.b64encode(data).decode("ascii"),
    }


def build_send_mail_request(
    subject: str,
    body_html: str,
    to: list[str],
    cc: list[str] | None = None,
    default_cc: Iterable[str] = (),
    attachments: list[tuple[str, bytes]] | None = None,
    save_to_sent: bool = True,
) -> dict:
    """The ``me/sendMail`` JSON payload. Default CCs are appended to any
    provided CCs (reference email_sender.py:148-151 applies DEFAULT_CC on
    top of the caller's list); invalid/duplicate addresses drop out."""
    to_recips = as_recipients(to)
    if not to_recips:
        raise ValueError("no valid 'To' recipients after validation")
    return {
        "message": {
            "subject": subject,
            "body": {"contentType": "HTML", "content": body_html},
            "toRecipients": to_recips,
            "ccRecipients": as_recipients(list(cc or []) + list(default_cc)),
            "attachments": [
                file_attachment(n, d) for n, d in (attachments or [])
            ],
        },
        "saveToSentItems": save_to_sent,
    }


def status_update_payload(updates: Iterable[tuple[str, str]]) -> list[dict]:
    """K8: (status_a1, new_status) pairs → the Sheets batch_update payload.
    Sorted for determinism; safe to re-send (last-write-wins upsert)."""
    return [{"range": a1, "values": [[status]]} for a1, status in sorted(updates)]
