"""Streaming layer tests: file-watch state machine + orchestrator transitions."""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import pytest

from etl_jetro_spark.sources.sheet import parse_sections, to_a1
from etl_jetro_spark.streaming import orchestrator as orch
from etl_jetro_spark.streaming import snapshot as S


def test_snapshot_poller_settle_timeout_precheck(tmp_path):
    """Reference-fidelity poll semantics: settle window, pre-check, timeout;
    files whose name is not an expected PO stay in the watch folder."""
    # PO from the file name: any case of .pdf, any prefix; non-PDF -> None
    assert S.po_of("79906-123-45879.PDF") == "45879"
    assert S.po_of("x-88.pdf") == "88"
    assert S.po_of("nope.txt") is None

    watch = tmp_path / "w"
    dest = tmp_path / "d"
    watch.mkdir()
    dest.mkdir()
    (watch / "79906-99-9999.pdf").write_bytes(b"unexpected")
    (watch / "notes.txt").write_text("ignored")
    # PO 2001 already delivered -> pre-check done
    (dest / "v-1-2001.pdf").write_bytes(b"done")

    st = S.new_watch(["2001", "2002", "2003"], deadline_polls=3)
    S.precheck_dest(st, str(dest))
    assert st.status["2001"] == "done"

    # poll 1: 2002 appears mid-copy (size 5) -> waiting
    f = watch / "v-2-2002.pdf"
    f.write_bytes(b"12345")
    t1 = S.poll_step(st, S.list_dir(str(watch)), str(dest))
    assert ("2002", "waiting") in t1

    # poll 2: size grew -> still waiting (settle restarts)
    f.write_bytes(b"1234567890")
    t2 = S.poll_step(st, S.list_dir(str(watch)), str(dest))
    assert t2 == []

    # poll 3: size stable -> done + moved; deadline reached -> 2003 errors
    t3 = S.poll_step(st, S.list_dir(str(watch)), str(dest))
    assert ("2002", "done") in t3 and ("2003", "error") in t3
    assert (dest / "v-2-2002.pdf").exists() and not f.exists()
    assert st.pending() == set()
    # unmatched files stay put
    assert sorted(os.listdir(watch)) == ["79906-99-9999.pdf", "notes.txt"]


def test_move_retries_exhausted_cleans_partial_copy(tmp_path, monkeypatch):
    """Reference open_retry=5 failure injection (sheet_bot/utils.py:273-285):
    every delivery attempt dies mid-copy leaving a half-staged temp file;
    after exactly 5 attempts the helper returns None, the dest dir is
    COMPLETELY clean — no dest, no orphan ``*.partial`` staging file
    (round-8 verdict ask #6) — and the source is intact."""
    src = tmp_path / "79906-114-5001.pdf"
    src.write_bytes(b"full-pdf-payload")
    dest_dir = tmp_path / "out"
    attempts = []

    def failing_commit(s, d, tmp):
        attempts.append(s)
        with open(tmp, "wb") as fh:
            fh.write(b"partial")  # crash mid-copy: staging file stranded
        raise OSError("injected: device gone mid-copy")

    monkeypatch.setattr(S, "_stage_and_commit", failing_commit)
    got = S.move_file_idempotent(str(src), str(dest_dir))
    assert got is None
    assert len(attempts) == 5
    assert os.listdir(dest_dir) == []  # no dest, no orphan .partial
    assert src.read_bytes() == b"full-pdf-payload"  # source untouched
    # through the poller: the settled PDF's move keeps failing until the
    # deadline, so the PO ends in ERROR exactly once, never done, with the
    # found path kept, the source still in the watch folder and nothing
    # of any name in the destination
    st = S.new_watch(["5001"], deadline_polls=3)
    transitions = []
    for _ in range(st.deadline_polls):
        transitions += S.poll_step(st, S.list_dir(str(tmp_path)), str(dest_dir))
    assert transitions == [("5001", "waiting"), ("5001", "error")]
    assert st.sightings["5001"].path.endswith(src.name)
    assert src.read_bytes() == b"full-pdf-payload"
    assert os.listdir(dest_dir) == []
    # recovery: once moves work again, the same call delivers normally
    monkeypatch.undo()
    got2 = S.move_file_idempotent(str(src), str(dest_dir))
    assert got2 and open(got2, "rb").read() == b"full-pdf-payload"


def test_hard_crash_mid_copy_never_exposes_partial_dest(tmp_path, monkeypatch):
    """ADVICE r8 (medium): a HARD crash during a cross-filesystem copy —
    no in-process OSError handler runs — must not leave a truncated dest
    that a checkpoint-replay pre-check would report as delivered. The
    staged-copy design guarantees it: the crash strands only the
    ``*.partial`` temp; the final name appears solely via atomic
    os.replace. Simulated by a copy2 that half-writes then raises
    KeyboardInterrupt (bypassing the OSError retry/cleanup path), with
    os.rename forced down the EXDEV branch."""
    import errno
    import shutil

    src = tmp_path / "79906-114-5002.pdf"
    src.write_bytes(b"full-pdf-payload")
    dest_dir = tmp_path / "out"

    def exdev_rename(s, d):
        raise OSError(errno.EXDEV, "cross-device link")

    def crashing_copy2(s, d):
        with open(d, "wb") as fh:
            fh.write(b"part")
        raise KeyboardInterrupt  # hard death: no except-OSError cleanup

    monkeypatch.setattr(os, "rename", exdev_rename)
    monkeypatch.setattr(shutil, "copy2", crashing_copy2)
    try:
        S.move_file_idempotent(str(src), str(dest_dir))
    except KeyboardInterrupt:
        pass
    dest = dest_dir / src.name
    assert not dest.exists()  # pre-check can trust dest existence
    assert src.read_bytes() == b"full-pdf-payload"
    # replay after recovery: pre-check misses (dest absent), delivery runs
    monkeypatch.undo()
    got = S.move_file_idempotent(str(src), str(dest_dir))
    assert got and open(got, "rb").read() == b"full-pdf-payload"
    assert os.listdir(dest_dir) == [src.name]  # stale .partial replaced/gone


def test_move_idempotent(tmp_path):
    src = tmp_path / "a.pdf"
    src.write_bytes(b"x")
    dest = tmp_path / "out"
    got = S.move_file_idempotent(str(src), str(dest))
    assert got and os.path.exists(got) and not src.exists()
    # replay with same name: keeps existing, reports dest
    src2 = tmp_path / "a.pdf"
    src2.write_bytes(b"different")
    got2 = S.move_file_idempotent(str(src2), str(dest))
    assert got2 == got and open(got2, "rb").read() == b"x"


CONTROL_GRID = [
    ["Note", "Vendor #", "Vendor Name", "452/490", "114", "PO count", "Status"],
    ["", "79906.0", "Leavins", "88101", "88102.0", "2", "Ready"],
    ["", "", "skipped blank vendor", "1", "2", "", "Ready"],
    ["", "81214", "247", "x", "88103", "1", "Sent"],
    ["note section 2 follows", "", "", "", "", "", ""],
    ["Note", "Vendor #", "Vendor Name", "86", "Status"],
    ["", "44602", "ACME", "88104", "Ready"],
]


def test_parse_sections_schema_discovery():
    rows = parse_sections(CONTROL_GRID)
    assert [r.vendor_num for r in rows] == ["79906", "81214", "44602"]
    r0 = rows[0]
    # compound header 452/490 fans the PO out to both stores; .0 stripped
    assert r0.stores == {"452": "88101", "490": "88101", "114": "88102"}
    assert r0.status == "Ready" and r0.status_a1 == to_a1(1, 6) == "G2"
    # 'x' cell = not expected
    assert rows[1].stores == {"114": "88103"}
    assert rows[2].section == 1 and rows[2].stores == {"86": "88104"}


def test_orchestrator_transitions(tmp_path):
    rows = parse_sections(CONTROL_GRID)
    ready = orch.select_ready(rows)
    assert {r.vendor_num for r in ready} == {"79906", "44602"}

    # lock: Ready -> SENDING write-backs
    m = orch.orchestrate_tick(
        None, CONTROL_GRID, [str(tmp_path)], str(tmp_path / "d"), deadline_polls=1
    )
    locks = {p["range"]: p["values"][0][0] for p in m["lock"]}
    assert locks == {"G2": "SENDING", "E7": "SENDING"}

    # finalize: vendor 79906 got 88101 but not 88102 -> ERROR with detail
    expected = [("79906", "G2", "88101"), ("79906", "G2", "88102"), ("44602", "E7", "88104")]
    status = [("88101", "done"), ("88104", "done"), ("88102", "waiting")]
    fin = {v: (new, detail) for v, _, new, detail in orch.finalize(expected, status)}
    assert fin["44602"][0] == "Sent" and fin["44602"][1] is None
    assert fin["79906"][0] == "ERROR"
    assert fin["79906"][1] == "missing: 88102"

    # a PO is done once any vendor's watch saw it done (a shared PO moved
    # by one vendor is found by the next one's pre-check); missing POs are
    # listed sorted
    expected = [
        ("1", "A2", "30"), ("1", "A2", "10"), ("1", "A2", "20"),
        ("2", "A3", "10"), ("2", "A3", "40"),
        ("3", "A4", "30"),
    ]
    status = [("10", "error"), ("10", "done"), ("20", "waiting"), ("30", "error"), ("40", "done")]
    got = orch.finalize(expected, status)
    assert sorted(got) == [
        ("1", "A2", "ERROR", "missing: 20,30"),
        ("2", "A3", "Sent", None),
        ("3", "A4", "ERROR", "missing: 30"),
    ]
    assert orch.finalize([], []) == []


def test_ready_row_without_expected_po_ends_in_error(tmp_path):
    """A Ready row whose store cells are all 'x' is locked like any other
    and must reach a terminal status, not stay SENDING forever."""
    grid = [
        ["Note", "Vendor #", "Vendor Name", "452/490", "114", "PO count", "Status"],
        ["", "50001", "Empty", "x", "x", "0", "Ready"],
    ]
    m = orch.orchestrate_tick(None, grid, [str(tmp_path)], str(tmp_path), deadline_polls=1)
    assert m["lock"] == [{"range": "G2", "values": [["SENDING"]]}]
    assert m["final"] == [{"range": "G2", "values": [["ERROR"]]}]
    assert m["errors"] == {"G2": "no expected POs"}
    assert m["po_status"] == {}


def test_tick_rejects_empty_watch_dirs(tmp_path):
    """With no watch directory the default poller could never find a PO,
    so the tick refuses an empty list up front; the call runs in a thread
    so a regression fails instead of hanging the suite. A caller's
    ``poll_fn`` needs no dirs."""
    import threading

    got = {}

    def tick():
        try:
            orch.orchestrate_tick(None, CONTROL_GRID, [], str(tmp_path), deadline_polls=3)
        except ValueError as e:
            got["error"] = str(e)

    t = threading.Thread(target=tick, daemon=True)
    t.start()
    t.join(30)
    assert not t.is_alive(), "orchestrate_tick(watch_dirs=[]) did not return"
    assert "watch_dirs" in got.get("error", "")

    m = orch.orchestrate_tick(
        None, CONTROL_GRID, [], str(tmp_path), deadline_polls=3, poll_fn=lambda st, d: None
    )
    assert set(m["errors"]) == {"G2", "E7"}


def test_expected_pos_order_preserving_distinct():
    stores = {"452": "88101", "490": "88101", "114": "88102"}
    assert orch.expected_pos_for_vendor(stores) == ["88101", "88102"]


def test_orchestrate_tick_all_pos_delivered(tmp_path):
    """Both Ready rows end Sent when every expected PO is found: vendor
    79906's two PDFs settle in the watch folder and 44602's was delivered
    before the tick. The lock and final write-backs are one A1 update per
    row, sorted by range."""
    watch = tmp_path / "w"
    dest = tmp_path / "d"
    watch.mkdir()
    dest.mkdir()
    (watch / "79906-114-88101.pdf").write_bytes(b"x")
    (watch / "79906-114-88102.pdf").write_bytes(b"y")
    (dest / "44602-86-88104.pdf").write_bytes(b"z")

    m = orch.orchestrate_tick(None, CONTROL_GRID, [str(watch)], str(dest), deadline_polls=3)
    assert m["lock"] == [
        {"range": "E7", "values": [["SENDING"]]},
        {"range": "G2", "values": [["SENDING"]]},
    ]
    assert m["final"] == [
        {"range": "E7", "values": [["Sent"]]},
        {"range": "G2", "values": [["Sent"]]},
    ]
    assert m["errors"] == {}
    assert sorted(os.listdir(dest)) == [
        "44602-86-88104.pdf", "79906-114-88101.pdf", "79906-114-88102.pdf"
    ]


def test_orchestrate_tick_full_loop(tmp_path):
    """The whole sheet_bot tick: parse -> lock -> watch -> finalize."""
    watch = tmp_path / "w"
    dest = tmp_path / "d"
    watch.mkdir()
    dest.mkdir()
    # vendor 79906 expects 88101+88102: 88101 arrives, 88102 never does
    (watch / "79906-114-88101.pdf").write_bytes(b"x")
    # vendor 44602 expects 88104: already delivered (pre-check)
    (dest / "44602-86-88104.pdf").write_bytes(b"y")

    m = orch.orchestrate_tick(
        None, CONTROL_GRID, [str(watch)], str(dest), deadline_polls=3
    )
    assert m["lock"] == [
        {"range": "E7", "values": [["SENDING"]]},
        {"range": "G2", "values": [["SENDING"]]},
    ]
    assert m["po_status"]["88101"] == "done"
    assert m["po_status"]["88102"] == "error"
    assert m["po_status"]["88104"] == "done"
    finals = {p["range"]: p["values"][0][0] for p in m["final"]}
    assert finals == {"G2": "ERROR", "E7": "Sent"}
    assert (dest / "79906-114-88101.pdf").exists()


def _tick_day(seed, root):
    """A seeded two-section control grid shaped like the benchmark's PO day:
    compound '452/490' headers, 'x' and '.0' cells, a blank-vendor row, an
    already-Sent row, one PO shared by two vendors, and a watch folder with
    a PDF per expected PO except a seeded missing few."""
    rng, vendors, stores = random.Random(seed), 6, 3
    watch = root / "watch"
    watch.mkdir(parents=True)
    grid, pos = [], []
    next_po = rng.randint(100_000, 200_000)
    nums = rng.sample(range(10_000, 99_999), vendors + 2)
    for _ in range(2):
        codes = [str(c) for c in rng.sample(range(1, 999), stores + 1)]
        header = [f"{codes[0]}/{codes[1]}"] + codes[2:]
        grid.append(["Note", "Vendor #", "Vendor Name", *header, "PO count", "Status"])
        for _ in range(vendors // 2):
            vnum, cells = str(nums.pop()), []
            for _ in header:
                if rng.random() < 0.1:
                    cells.append("x")
                    continue
                po, next_po = str(next_po), next_po + 1
                cells.append(po + (".0" if rng.random() < 0.1 else ""))
                pos.append((vnum, po))
            grid.append(["", vnum + ".0", f"Vendor {vnum}", *cells, "", "Ready"])
        grid.append(["", "", "skipped", *["1"] * len(header), "", "Ready"])
        grid.append(["", str(nums.pop()), "done", *["x"] * len(header), "0", "Sent"])
    shared = pos[0][1]  # also expected by section 1's first vendor
    grid[vendors // 2 + 4][3] = shared
    missing = set(rng.sample([po for _, po in pos], max(2, len(pos) // 8))) - {shared}
    for vnum, po in pos:
        if po not in missing:
            (watch / f"{vnum}-{rng.randint(100, 999)}-{po}.pdf").write_bytes(po.encode())
    return grid, watch


def _tick_digest(m: dict) -> str:
    keep = {k: m[k] for k in ("lock", "final", "po_status")}
    return hashlib.sha256(json.dumps(keep, sort_keys=True).encode()).hexdigest()


# sha256 of the tick's {lock, final, po_status}, recorded when finalize was
# a Spark anti-join; the pure-Python tick must reproduce them.
TICK_GOLDEN = {
    "control": "b866bfdab4916d2e03a47406c923a826ea314967463828145bd65f05e6cbcd91",
    1: "7a380b03300973ebb138e8c91252df617d3d11f7f37b50ef417a883f29e9e6ac",
    2: "3466823966349556d21fa7d8da41f12ea5362bddafc05aa45716e628cd6670f1",
    3: "a3f57365a7016ff3c07d1ece6942d461dd1b6e6ab8fcc57bfffa42ee7f22ce58",
}


@pytest.mark.parametrize("case", list(TICK_GOLDEN))
def test_tick_outputs_unchanged(case, tmp_path):
    """The tick's write-back payloads and per-PO status do not drift; the
    tick runs with ``spark=None``, so any Spark use in it raises."""
    if case == "control":
        grid, watch = CONTROL_GRID, tmp_path / "w"
        watch.mkdir()
        (tmp_path / "d").mkdir()
        (watch / "79906-114-88101.pdf").write_bytes(b"x")
        (tmp_path / "d" / "44602-86-88104.pdf").write_bytes(b"y")
        polls = 3
    else:
        grid, watch = _tick_day(case, tmp_path)
        polls = 4
    m = orch.orchestrate_tick(None, grid, [str(watch)], str(tmp_path / "d"), deadline_polls=polls)
    assert _tick_digest(m) == TICK_GOLDEN[case]
    assert set(m["errors"]) == {p["range"] for p in m["final"] if p["values"] == [["ERROR"]]}


def test_orchestrate_tick_wall_clock_soak(tmp_path):
    """T1 cadence + T4 timeout together under REAL wall-clock triggers:
    the poll loop sleeps a 0.4 s cadence while a background thread drops
    one expected PDF mid-watch (arrive -> settle -> done -> moved) and a
    second PO never arrives (deadline -> ERROR exactly once). The whole
    soak completes in a few seconds."""
    import threading

    watch = tmp_path / "w"
    dest = tmp_path / "d"
    watch.mkdir()
    dest.mkdir()
    # pre-satisfy vendor 44602 so only 79906's 88101/88102 are in play
    (dest / "44602-86-88104.pdf").write_bytes(b"y")

    def drop_late():
        time.sleep(1.0)
        (watch / "79906-114-88101.pdf").write_bytes(b"late arrival")

    t = threading.Thread(target=drop_late)
    t.start()

    cadence = 0.4
    ticks = []

    def poll_fn(st, dest_dir):
        while st.pending():
            ticks.append(time.time())
            S.poll_step(st, S.list_dir(str(watch)), dest_dir)
            time.sleep(cadence)

    t0 = time.time()
    m = orch.orchestrate_tick(
        None,
        CONTROL_GRID,
        [str(watch)],
        str(dest),
        deadline_polls=10,       # 10 ticks x 0.4 s = 4 s deadline (T4)
        poll_fn=poll_fn,
    )
    t.join()
    elapsed = time.time() - t0
    assert elapsed < 30
    # T1: the cadence actually ran on the wall clock (>= 3 spaced ticks)
    gaps = [b - a for a, b in zip(ticks, ticks[1:])]
    assert len(ticks) >= 3 and all(g >= cadence * 0.8 for g in gaps)
    # T4 + arrival: late PO settled to done and moved; missing PO errored
    assert m["po_status"]["88101"] == "done"
    assert m["po_status"]["88102"] == "error"
    assert (dest / "79906-114-88101.pdf").exists()
    finals = {p["range"]: p["values"][0][0] for p in m["final"]}
    assert finals == {"G2": "ERROR", "E7": "Sent"}
    # exactly-once ERROR in the status map (dict by construction, and the
    # error set is only the never-arrived PO)
    assert [po for po, s in m["po_status"].items() if s == "error"] == ["88102"]


def _sequential_tick(grid, watch_dirs, dest_dir, deadline_polls):
    """The tick as one vendor at a time: pre-check one row's watch, poll
    it until it settles, then the next row. Each poll is one pass over
    every watch dir. The oracle of the one watch of ``orchestrate_tick``."""
    from etl_jetro_spark.sinks.notify import status_update_payload

    ready = orch.select_ready(parse_sections(grid))
    lock = [{"range": r.status_a1, "values": [["SENDING"]]}
            for r in sorted(ready, key=lambda r: r.status_a1)]
    expected_rows, status_rows, final = [], [], []
    for r in ready:
        pos = orch.expected_pos_for_vendor(r.stores)
        if not pos:
            final.append((r.vendor_num, r.status_a1, orch.ERROR, "no expected POs"))
            continue
        expected_rows += [(r.vendor_num, r.status_a1, po) for po in pos]
        st = S.new_watch(pos, deadline_polls=deadline_polls)
        S.precheck_dest(st, dest_dir)
        while st.pending():
            S.poll_step(st, [f for d in watch_dirs for f in S.list_dir(d)], dest_dir)
        status_rows += list(st.status.items())
    final += orch.finalize(expected_rows, status_rows)
    return {
        "lock": lock,
        "final": status_update_payload((a1, new) for _, a1, new, _ in final),
        "po_status": dict(status_rows),
        "errors": {a1: detail for _, a1, new, detail in final if new == orch.ERROR},
    }


_TICK_HEADER = ["Note", "Vendor #", "Vendor Name", "452/490", "114", "86", "PO count", "Status"]


def _tick_case(case, root):
    """A control grid, its watch dirs and its destination under ``root``,
    each PDF named ``<vendor>-<store>-<po>.pdf``."""
    rows = {
        # 7001 is expected by two vendors; both rows also have a PO of their own
        "shared_po": [("501", ["7001", "7002", "x"]), ("502", ["7003", "7001", "x"])],
        # two rows whose POs sit in two different watch dirs
        "two_dirs": [("511", ["7101", "7102", "x"]), ("512", ["x", "7103", "7104"])],
        # 7202 was delivered before the tick
        "pre_delivered": [("521", ["7201", "7202", "x"]), ("522", ["x", "x", "7202"])],
        # 7302 and 7304 never arrive: their rows poll until the deadline
        "missing": [("531", ["7301", "7302", "x"]), ("532", ["7303", "x", "7304"])],
        # a Ready row whose store cells are all 'x'
        "no_pos": [("541", ["x", "x", "x"]), ("542", ["7401", "x", "x"])],
    }[case]
    dirs = [root / "w1", root / "w2"]
    dest = root / "d"
    for d in (*dirs, dest):
        d.mkdir(parents=True)
    grid = [_TICK_HEADER] + [["", v, f"V{v}", *pos, "", "Ready"] for v, pos in rows]
    files = {
        "shared_po": [(0, "501-114-7001"), (0, "501-114-7002"), (0, "502-114-7003")],
        "two_dirs": [(0, "511-114-7101"), (1, "511-114-7102"), (1, "512-86-7103"),
                     (0, "512-86-7104")],
        "pre_delivered": [(0, "521-114-7201")],
        "missing": [(0, "531-114-7301"), (1, "532-86-7303")],
        "no_pos": [(1, "542-114-7401")],
    }[case]
    for k, name in files:
        (dirs[k] / f"{name}.pdf").write_bytes(name.encode())
    if case == "pre_delivered":
        (dest / "522-86-7202.pdf").write_bytes(b"delivered")
    return grid, [str(d) for d in dirs], dest


@pytest.mark.parametrize("case", ["shared_po", "two_dirs", "pre_delivered", "missing", "no_pos"])
def test_tick_rounds_match_sequential_tick(case, tmp_path):
    """One watch over every row's POs gives the same lock, final, per-PO
    status, errors and delivered files as polling the rows one after
    another."""
    def files(dirs, dest):
        return [sorted(os.listdir(d)) for d in (*dirs, dest)]

    grid, dirs, dest = _tick_case(case, tmp_path / "seq")
    want = _sequential_tick(grid, dirs, str(dest), deadline_polls=4)
    want_files = files(dirs, dest)
    grid, dirs, dest = _tick_case(case, tmp_path / "rounds")
    got = orch.orchestrate_tick(None, grid, dirs, str(dest), deadline_polls=4)
    assert got == want
    assert files(dirs, dest) == want_files


def test_tick_lists_each_dir_once_per_round(tmp_path, monkeypatch):
    """One watch serves every row: the destination is listed once per
    tick, and each poll lists each watch dir once and calls ``poll_step``
    once, so V rows over D dirs cost D × polls listings, not V × D × polls."""
    vendors, dirs = 5, [tmp_path / "w1", tmp_path / "w2"]
    dest = tmp_path / "d"
    for d in (*dirs, dest):
        d.mkdir()
    grid = [["Note", "Vendor #", "Vendor Name", "114", "86", "PO count", "Status"]]
    for v in range(vendors):
        po_a, po_b = f"80{v}1", f"80{v}2"
        grid.append(["", f"60{v}", f"V{v}", po_a, po_b, "2", "Ready"])
        (dirs[0] / f"60{v}-114-{po_a}.pdf").write_bytes(b"a")
        if v:  # the first row's second PO never arrives
            (dirs[1] / f"60{v}-86-{po_b}.pdf").write_bytes(b"b")
    listed, polls = [], []
    listdir, poll_step = os.listdir, S.poll_step

    def counting_listdir(d):
        listed.append(str(d))
        return listdir(d)

    def counting_poll_step(st, listing, dest_dir):
        polls.append(id(st))
        return poll_step(st, listing, dest_dir)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    monkeypatch.setattr(S, "poll_step", counting_poll_step)
    m = orch.orchestrate_tick(
        None, grid, [str(d) for d in dirs], str(dest), deadline_polls=6
    )
    # sighting, then settle: 2 polls settle rows 1-4; row 0's missing PO
    # keeps the watch polling until its deadline of 6 polls
    n_polls = 6
    assert listed == [str(dest)] + [str(d) for d in dirs] * n_polls
    assert len(polls) == n_polls and len(set(polls)) == 1
    assert set(m["errors"]) == {"G2"} and m["po_status"]["8002"] == "error"


def test_tick_po_in_two_watch_dirs(tmp_path):
    """The same PO's PDF in two watch dirs: one pass sees both, the first
    dir's file wins, settles and is moved, and the second dir's copy stays
    where it is."""
    dirs = [tmp_path / "w1", tmp_path / "w2"]
    dest = tmp_path / "d"
    for d in (*dirs, dest):
        d.mkdir()
    grid = [["Note", "Vendor #", "Vendor Name", "114", "PO count", "Status"],
            ["", "601", "V1", "9001", "1", "Ready"]]
    for d in dirs:
        (d / "601-114-9001.pdf").write_bytes(d.name.encode())
    m = orch.orchestrate_tick(None, grid, [str(d) for d in dirs], str(dest), deadline_polls=10)
    assert m["po_status"] == {"9001": "done"}
    assert m["errors"] == {}
    assert m["final"] == [{"range": "F2", "values": [["Sent"]]}]
    assert (dest / "601-114-9001.pdf").read_bytes() == b"w1"
    assert os.listdir(dirs[0]) == []
    assert (dirs[1] / "601-114-9001.pdf").read_bytes() == b"w2"
