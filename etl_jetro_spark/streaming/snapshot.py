"""Poll-snapshot watcher: the reference's settle/timeout semantics, exact.

``retrieve_pdf`` (reference sheet_bot/utils.py:77-406) polls watch folders,
debounces each candidate on a size-stability window, moves settled files,
and errors POs that never complete within the deadline. One poll is one
pass over every watch folder: :func:`poll_step` takes their listings
concatenated in folder order, so the first folder wins a PO found in two,
and the deadline counts passes. Directory listings are control-plane small
(hundreds of names), so the state machine is a deterministic pure-Python
step function over successive snapshots — trivially testable, restartable,
and drivable from any scheduler (a cron or the reference's 60 s loop). The
data-plane (what's *in* the PDFs) never touches this path.

State transitions per PO (T2/T4/T5):
    (unseen) --sighting--> waiting --same size next poll--> done
    (any non-done) --deadline exceeded--> error
Pre-check: a file already in the destination counts as done immediately.
"""

from __future__ import annotations

import errno
import os
import re
import shutil
from dataclasses import dataclass, field
from typing import NamedTuple

PO_FROM_NAME = re.compile(r"-(\d+)\.pdf$", re.IGNORECASE)


def po_of(name: str) -> str | None:
    m = PO_FROM_NAME.search(name)
    return m.group(1) if m else None


class Sighting(NamedTuple):
    path: str
    size: int


@dataclass
class WatchState:
    expected: set[str]
    deadline_polls: int
    sightings: dict[str, Sighting] = field(default_factory=dict)  # po -> file
    status: dict[str, str] = field(default_factory=dict)          # po -> waiting|done|error
    polls: int = 0

    def pending(self) -> set[str]:
        return {
            po for po in self.expected if self.status.get(po) not in ("done", "error")
        }


def new_watch(expected: list[str], deadline_polls: int = 600) -> WatchState:
    return WatchState(expected=set(expected), deadline_polls=deadline_polls)


def _stage_and_commit(src: str, dest: str, tmp: str) -> None:
    """Deliver ``src`` to ``dest`` so the final name only ever appears
    FULLY WRITTEN. Same-filesystem: plain atomic ``os.rename``.
    Cross-filesystem (EXDEV): copy to ``tmp`` (a temp name inside the
    dest dir, hence on dest's filesystem), atomically ``os.replace`` it
    into place, then unlink the source. A hard crash mid-copy — a
    window a copy-then-unlink ``shutil.move`` would leave open — strands
    only the ``tmp`` staging file, never a truncated ``dest``, so a
    re-run's pre-check can trust dest's existence as proof of complete
    delivery."""
    try:
        os.rename(src, dest)
        return
    except OSError as e:
        if e.errno != errno.EXDEV:
            raise
    shutil.copy2(src, tmp)
    os.replace(tmp, dest)
    os.unlink(src)


MOVE_ATTEMPTS = 5  # reference open_retry=5 (sheet_bot/utils.py:273-285)


def move_file_idempotent(src: str, dest_dir: str) -> str | None:
    """T5/T6/T7: move with pre-check (already-delivered wins),
    ``MOVE_ATTEMPTS`` back-to-back attempts, and skip-if-same-name — safe
    to repeat on a re-run tick.

    Reference parity: the ``open_retry`` move loop
    (sheet_bot/utils.py:273-285). Delivery goes through
    :func:`_stage_and_commit`, so ``dest`` appears atomically: the
    pre-check below never sees a partial file, even after a hard crash
    (only a ``*.partial`` staging file can be stranded, and each retry
    sweeps it). Returns the dest path, or None when all retries are
    exhausted (the caller reports ERROR; the reference leaves the PO in
    ``remaining`` and its status row never flips to done)."""
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, os.path.basename(src))
    tmp = dest + ".partial"
    if os.path.exists(dest):
        return dest  # already delivered (replay or duplicate drop)
    if os.path.exists(tmp):
        try:
            os.remove(tmp)  # stale staging file from a prior hard crash
        except OSError:
            pass
    for _ in range(MOVE_ATTEMPTS):
        try:
            _stage_and_commit(src, dest, tmp)
            return dest
        except OSError:
            if os.path.exists(tmp):
                try:
                    os.remove(tmp)  # half-staged copy: source not consumed
                except OSError:
                    pass
    return None


def precheck_dest(state: WatchState, dest_dir: str) -> WatchState:
    """T5: already-delivered POs are done before the first poll."""
    if os.path.isdir(dest_dir):
        for name in os.listdir(dest_dir):
            po = po_of(name)
            if po in state.expected:
                state.status[po] = "done"
    return state


def poll_step(
    state: WatchState, listing: list[tuple[str, int]], dest_dir: str
) -> list[tuple[str, str]]:
    """One poll over a (path, size) listing, the listings of every watch
    folder in folder order. Mutates ``state`` and returns this poll's
    transitions [(po, new_status)]."""
    state.polls += 1
    transitions: list[tuple[str, str]] = []
    by_po: dict[str, Sighting] = {}
    for path, size in listing:
        po = po_of(os.path.basename(path))
        if po in state.expected and state.status.get(po) != "done":
            by_po.setdefault(po, Sighting(path, size))  # first match wins (D1)

    for po, seen in by_po.items():
        if state.sightings.get(po) != seen:
            state.sightings[po] = seen
            if state.status.get(po) != "waiting":
                state.status[po] = "waiting"
                transitions.append((po, "waiting"))
        elif move_file_idempotent(seen.path, dest_dir) is not None:
            # settled: unchanged across one full poll interval, and moved
            state.status[po] = "done"
            transitions.append((po, "done"))

    if state.polls >= state.deadline_polls:
        for po in sorted(state.pending()):
            state.status[po] = "error"
            transitions.append((po, "error"))
    return transitions


def list_dir(folder: str) -> list[tuple[str, int]]:
    out = []
    if os.path.isdir(folder):
        for name in os.listdir(folder):
            p = os.path.join(folder, name)
            if os.path.isfile(p):
                out.append((p, os.path.getsize(p)))
    return sorted(out)
