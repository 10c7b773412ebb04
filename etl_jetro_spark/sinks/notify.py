"""Notification sinks (SURVEY §2.9 K7/K8).

K7: HTML email body from the PO list + signature combiner, and the full
MS Graph send flow — device-code auth with token reuse, recipient
normalization, base64 file attachments, ``me/sendMail`` POST (reference
sheet_bot/email_sender.py:30-175). The transport is an injectable callable
``http(method, url, headers=None, form=None, json_body=None) ->
(status, payload)`` so the whole flow runs and is tested against a fake
transport; no network is ever touched unless the caller wires one in.

K8: Google Sheet status write-back — the reference batches A1-addressed
updates (sheets.py:182-189). The engine plans the update, (status_a1,
new_status) pairs → the [{range, values}] payload; the PO control tick
returns it, and the caller applies it to the sheet.

Both are designed as foreachBatch sinks: idempotent per (key, status), so
micro-batch replays are safe.
"""

from __future__ import annotations

import base64
import mimetypes
import re
from collections.abc import Callable, Iterable

# injectable transport: (method, url, headers, form, json_body) -> (status, payload)
HttpFn = Callable[..., tuple[int, dict]]

GRAPH_SCOPES = (
    "https://graph.microsoft.com/User.Read",
    "https://graph.microsoft.com/Mail.Send",
)
GRAPH_SENDMAIL_URL = "https://graph.microsoft.com/v1.0/me/sendMail"
_EMAIL_FULL = re.compile(r"^[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}$")

_FONT = "font-family:Segoe UI, Arial, Helvetica, sans-serif; font-size:14px; line-height:1.6;"

BODY_TEMPLATE = """<!doctype html>
<html>
  <head>
    <meta charset="utf-8">
    <title>Email Body</title>
  </head>
  <body style="margin:0;">
    <div style="{font}">
      <p style="margin:0 0 12px 0;">Greetings,</p>
      <p style="margin:0 0 12px 0;">Please confirm the following POs:</p>
      <div style="white-space:normal;">
        {po_lines}
      </div>
    </div>
  </body>
</html>
"""


def generate_body(pos: list[str]) -> str:
    """K7: the reference's full HTML body document — Greetings preamble,
    confirm line, one PO per line (escaped), Segoe-UI styling
    (email_generator.py:6-39)."""
    from html import escape

    items = [escape(str(x).strip()) for x in (pos or []) if str(x).strip()]
    po_lines = "<br>\n        ".join(items)
    return BODY_TEMPLATE.format(font=_FONT, po_lines=po_lines)


def combine_body_signature(body_html: str, signature_html: str, padding_px: int = 24) -> str:
    """K7: merge body and signature documents into one email HTML —
    body first, 24px spacer, signature, single container
    (email_generator.py:42-89)."""
    import re as _re

    def inner(html_text: str) -> str:
        m = _re.search(r"<body[^>]*>(.*?)</body>", html_text, flags=_re.I | _re.S)
        return (m.group(1) if m else html_text).strip()

    return f"""<!doctype html>
<html>
  <head>
    <meta charset="utf-8">
    <title>Email</title>
    <meta http-equiv="x-ua-compatible" content="ie=edge">
    <meta name="viewport" content="width=device-width, initial-scale=1">
  </head>
  <body style="margin:0;">
    <div style="padding:{padding_px}px; {_FONT}">
      {inner(body_html)}
      <div style="height:24px;"></div>
      {inner(signature_html)}
    </div>
  </body>
</html>
"""


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


class DeviceCodeAuth:
    """MS Graph device-code flow over the injectable transport, with a
    reusable token store (reference email_sender.py:30-63: silent first,
    device flow otherwise, cache persisted).

    ``token_store`` is any dict-like; ``on_prompt`` receives the
    user-facing 'visit URL, enter code' message. Polling honors the
    endpoint's ``interval`` (AAD default 5 s) via ``sleep_fn``, backs off
    on ``slow_down``, and the silent path checks expiry (``expires_in``
    with a 60 s safety margin) before reusing a cached token —
    ``clock_fn``/``sleep_fn`` are injectable for tests."""

    def __init__(
        self,
        client_id: str,
        tenant_id: str,
        http: HttpFn,
        token_store: dict | None = None,
        on_prompt: Callable[[str], None] | None = None,
        max_polls: int = 60,
        sleep_fn: Callable[[float], None] | None = None,
        clock_fn: Callable[[], float] | None = None,
    ):
        import time as _time

        self.client_id = client_id
        self.authority = f"https://login.microsoftonline.com/{tenant_id}"
        self.http = http
        self.store = token_store if token_store is not None else {}
        self.on_prompt = on_prompt or (lambda msg: None)
        self.max_polls = max_polls
        self.sleep = sleep_fn or _time.sleep
        self.clock = clock_fn or _time.time

    def token(self) -> str:
        if self.store.get("access_token") and self.clock() < self.store.get(
            "expires_at", float("inf")
        ):
            return self.store["access_token"]  # silent path, not expired
        status, flow = self.http(
            "POST",
            f"{self.authority}/oauth2/v2.0/devicecode",
            form={"client_id": self.client_id, "scope": " ".join(GRAPH_SCOPES)},
        )
        if status != 200 or "user_code" not in flow:
            raise RuntimeError(f"failed to create device flow: {flow}")
        self.on_prompt(flow.get("message", ""))
        interval = float(flow.get("interval", 5))
        for poll in range(self.max_polls):
            if poll:
                self.sleep(interval)
            status, res = self.http(
                "POST",
                f"{self.authority}/oauth2/v2.0/token",
                form={
                    "grant_type": "urn:ietf:params:oauth:grant-type:device_code",
                    "client_id": self.client_id,
                    "device_code": flow["device_code"],
                },
            )
            if "access_token" in res:
                self.store["access_token"] = res["access_token"]
                self.store["expires_at"] = (
                    self.clock() + float(res.get("expires_in", 3600)) - 60
                )
                return res["access_token"]
            err = res.get("error")
            if err == "slow_down":
                interval += 5  # AAD's prescribed backoff
                continue
            if err != "authorization_pending":
                raise RuntimeError(f"auth failed: {res.get('error_description', res)}")
        raise RuntimeError("device-code flow timed out")


def send_email_graph(
    to: list[str],
    subject: str,
    body_html: str,
    attachments: list[tuple[str, bytes]] | None = None,
    cc: list[str] | None = None,
    default_cc: Iterable[str] = (),
    auth: DeviceCodeAuth | None = None,
    http: HttpFn | None = None,
) -> dict:
    """K7 send: build the request, acquire a token, POST ``me/sendMail``.
    Raises without a wired transport — the engine never opens network
    connections on its own. Returns the request payload (for audit)."""
    payload = build_send_mail_request(
        subject, body_html, to, cc=cc, default_cc=default_cc,
        attachments=attachments,
    )
    if http is None or auth is None:
        raise NotImplementedError(
            "no transport configured: pass http= and auth= (DeviceCodeAuth) "
            "to actually send; the payload builder ran deterministically"
        )
    token = auth.token()
    status, body = http(
        "POST",
        GRAPH_SENDMAIL_URL,
        headers={
            "Authorization": f"Bearer {token}",
            "Content-Type": "application/json",
        },
        json_body=payload,
    )
    if status not in (200, 202):
        raise RuntimeError(f"Graph sendMail failed [{status}]: {body}")
    return payload


def status_update_payload(updates: Iterable[tuple[str, str]]) -> list[dict]:
    """K8: (status_a1, new_status) pairs → the Sheets batch_update payload.
    Sorted for determinism; safe to re-send (last-write-wins upsert)."""
    return [{"range": a1, "values": [[status]]} for a1, status in sorted(updates)]
