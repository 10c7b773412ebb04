"""Driver-window rotation policy (__spark_entry__._ordered_names).

Round-7 verdict asks #3/#7: the newest band must never truncate a
round's own additions (r06 added 11 and NEWEST_N=10 dropped q256, the
recall gate for that round's headline fix), and the rotation window
must spend its slots on never-driver-signed queries before re-signing
already-signed ones (the contiguous stride was about to burn 31 of
r07's 40 slots on q125-q155, signed in r04).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402


def test_ordered_names_is_a_permutation_of_the_catalog():
    from etl_jetro_spark.plans.queries import QUERIES

    names = entry._ordered_names()
    assert sorted(names) == sorted(QUERIES)


def test_newest_band_covers_every_query_added_this_round():
    """Every query registered after the previous round's close (catalog
    size = BENCH_r{N}.json n_queries) must sit in the head of the
    window, even when the round added more than NEWEST_N."""
    from etl_jetro_spark.plans.queries import QUERIES

    prev = entry._prev_close_count()
    assert prev is not None and prev >= 266  # r06 closed at 266
    added = list(QUERIES)[prev:]
    names = entry._ordered_names()
    head = names[: max(entry.NEWEST_N, len(added))]
    assert all(q in head for q in added)


def test_rotation_window_prefers_never_signed_queries():
    """Invariant of the v3 drain branch (round-8 verdict "What's wrong"
    #1): after this round's additions band, EVERY never-driver-signed
    query precedes ANY already-signed query. The round-7-era version of
    this test recomputed the window with the pre-v3 NEWEST_N/ROTATE_N
    arithmetic and went red once CORRECTNESS_r08.json existed; asserting
    the ordering invariant directly is state-independent."""
    names = entry._ordered_names()
    signed = entry._signed_names()
    prev = entry._prev_close_count()
    from etl_jetro_spark.plans.queries import QUERIES

    additions = max(len(QUERIES) - (prev or len(QUERIES)), 0)
    tail = names[additions:]
    stale_idx = [i for i, n in enumerate(tail) if n not in signed]
    signed_idx = [i for i, n in enumerate(tail) if n in signed]
    if stale_idx and signed_idx:
        assert max(stale_idx) < min(signed_idx), (
            "a driver-signed query appears before a never-signed one "
            "inside the rotation band"
        )


# ---------------------------------------------------------------------------
# Round-8 backlog-drain policy (round-7 verdict asks #1/#3/#6)
# ---------------------------------------------------------------------------


def test_backlog_window_is_entirely_never_signed():
    """While a never-signed backlog exists, every slot of the driver's
    ~50-row window after this round's additions must go to a
    never-signed query — zero maintenance re-signing."""
    names = entry._ordered_names()
    signed = entry._signed_names()
    prev = entry._prev_close_count()
    from etl_jetro_spark.plans.queries import QUERIES

    additions = len(QUERIES) - (prev or len(QUERIES))
    backlog = [
        n for n in list(QUERIES)[: prev or len(QUERIES)] if n not in signed
    ]
    if not backlog:
        return  # drained: maintenance rotation resumes, nothing to check
    slots = entry.WINDOW_BUDGET - additions
    window = names[additions : additions + slots]
    expect = min(slots, len(backlog))
    assert sum(1 for n in window if n not in signed) == expect


def test_pinned_stale_queries_lead_the_backlog_window():
    """q256 (the r6 recall gate the judge asked for by name) and the
    q267-q278 orphans starved by r07's window overflow sit at the very
    front of the backlog band."""
    names = entry._ordered_names()
    signed = entry._signed_names()
    prev = entry._prev_close_count()
    from etl_jetro_spark.plans.queries import QUERIES

    additions = len(QUERIES) - (prev or len(QUERIES))
    pinned_live = [
        n
        for n in entry.PINNED_STALE
        if n in QUERIES and n not in signed
    ]
    head = names[additions : additions + len(pinned_live)]
    assert head == pinned_live


def test_round_additions_respect_window_budget_while_backlog_exists():
    """THE r9 guard: a round must not register more than
    MAX_ADDITIONS_WITH_BACKLOG new queries while never-signed queries
    remain — r07 added 62 against a ~50-slot window and starved both
    the backlog and its own additions. This test goes red the moment a
    future round repeats that."""
    signed = entry._signed_names()
    prev = entry._prev_close_count()
    from etl_jetro_spark.plans.queries import QUERIES

    assert prev is not None
    additions = len(QUERIES) - prev
    backlog = [n for n in list(QUERIES)[:prev] if n not in signed]
    if backlog:
        assert additions <= entry.MAX_ADDITIONS_WITH_BACKLOG, (
            f"{additions} queries added this round while "
            f"{len(backlog)} never-signed queries wait; cap is "
            f"{entry.MAX_ADDITIONS_WITH_BACKLOG} until drained"
        )


def test_full_catalog_additions_do_not_duplicate(monkeypatch):
    """ADVICE r8: when additions span the whole catalog (no readable
    BENCH sidecar and catalog <= NEWEST_N), `names[: len - len(additions)
    or None]` evaluated to names[:None] (the FULL list) and
    _ordered_names returned duplicates. The slice must yield the empty
    list instead."""
    import etl_jetro_spark.plans.queries as qmod

    small = {k: qmod.QUERIES[k] for k in list(qmod.QUERIES)[:5]}
    monkeypatch.setattr(qmod, "QUERIES", small)
    monkeypatch.setattr(entry, "_round_index", lambda: 9)
    monkeypatch.setattr(entry, "_prev_close_count", lambda: None)
    monkeypatch.setattr(entry, "_signed_names", lambda: set())
    names = entry._ordered_names()
    assert len(names) == len(set(names))
    assert sorted(names) == sorted(small)


def test_window_overflow_emits_runtime_warning(monkeypatch):
    """Simulated r07 failure mode: 62 additions over a backlog fires a
    RuntimeWarning from _ordered_names (and the ordering still returns
    a full permutation)."""
    import warnings

    from etl_jetro_spark.plans.queries import QUERIES

    n = len(QUERIES)
    monkeypatch.setattr(entry, "_round_index", lambda: 8)
    monkeypatch.setattr(entry, "_prev_close_count", lambda: n - 62)
    # mark everything signed except one pre-addition query -> backlog=1
    all_names = list(QUERIES)
    monkeypatch.setattr(
        entry, "_signed_names", lambda: set(all_names) - {all_names[0]}
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        names = entry._ordered_names()
    assert sorted(names) == sorted(all_names)
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "starve the backlog" in str(w.message)
        for w in caught
    )
