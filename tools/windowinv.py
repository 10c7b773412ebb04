#!/usr/bin/env python
"""Inventory of every ``WindowExec: No Partition Defined`` emitter
(round-11 verdict ask #6): which of the declared queries contain a
Window (or WindowGroupLimit) node with an EMPTY partition spec — the
exact condition that fires the warning and funnels the window's input
through one task — and, for each, the planlint boundedness verdict for
the frame feeding it (metadata-sized aggregate / top-k limit / etc.).

The list this prints is the warning inventory: every entry must carry a
``bounded`` verdict (the frame is provably result-set- or
metadata-sized, so one task is correct AND cheap) or it is a planlint
violation that needs a restructure.

Usage: ``python tools/windowinv.py [query_name ...]`` — no args sweeps
the whole catalog at sf0.001 (plan construction only).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from planlint import _spine_verdict, _walk  # noqa: E402


def _empty_partition_windows(df):
    """(node, bounded_ok, reason) for every empty-partition-spec Window
    in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan()
    out = []
    for nd in _walk(plan):
        name = nd.nodeName()
        if name not in ("Window", "WindowGroupLimit"):
            continue
        try:
            n_part = nd.partitionSpec().size()
        except Exception:
            continue
        if n_part != 0:
            continue
        ok, reason = _spine_verdict(nd)
        out.append((nd.simpleString(160), ok, reason))
    return out


def main() -> int:
    from etl_jetro_spark.plans.queries import QUERIES
    from etl_jetro_spark.session import get_spark

    sf = "/root/testdata/sf0.001"
    spark = get_spark(app_name="windowinv", shuffle_partitions=8)
    names = sys.argv[1:] or list(QUERIES)
    n_emit = 0
    n_unbounded = 0
    for name in names:
        try:
            hits = _empty_partition_windows(QUERIES[name](spark, sf))
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_unbounded += 1
            continue
        if not hits:
            continue
        n_emit += 1
        for simple, ok, reason in hits:
            tag = "bounded" if ok else "UNBOUNDED"
            if not ok:
                n_unbounded += 1
            print(f"{name}: {tag} :: {reason} :: {simple[:120]}")
    print(
        f"== {n_emit} queries emit the warning, "
        f"{n_unbounded} unbounded/errored =="
    )
    return 1 if n_unbounded else 0


if __name__ == "__main__":
    raise SystemExit(main())
