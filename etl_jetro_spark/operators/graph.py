"""Connected components over candidate-pair edges (dedup clustering).

A real dedup pipeline doesn't stop at pairs: near-dup pairs chain
(A~B, B~C but A≁C), so the keep/drop decision needs the CLUSTER — the
connected component — and a canonical representative per cluster. This is
the one genuinely iterative algorithm in the engine: label propagation to
the minimum reachable id, a driver-side loop over pure DataFrame steps.

Scale design: each iteration is one join + one aggregation (shuffle on
node id), converging in O(graph diameter) rounds — near-dup graphs are
shallow (dup clusters are dense, diameters of 2-4), so a handful of
rounds suffices at any corpus size. Lineage is truncated per round with
``localCheckpoint`` (an iterative loop would otherwise stack analysis
cost and replay risk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    layer: str | None = None,
    pre_barrier: bool = False,
) -> DataFrame:
    """(id, component) for every node in ``edges``; ``component`` is the
    minimum node id reachable from it (a canonical cluster label).

    Label propagation, one join+agg per round, O(diameter) rounds —
    right for shallow dedup clusters; raises if ``max_iter`` rounds
    aren't enough.

    ``layer`` names a column of ``edges`` that keys
    INDEPENDENT graph layers — e.g. a dedup-threshold sweep where each
    threshold induces its own edge set (r11). All layers propagate in
    ONE driver loop keyed by (layer, node): total rounds = the DEEPEST
    layer's diameter instead of the SUM over layers, and each round's
    fixed costs (plan compile, checkpoint, convergence count) are paid
    once. Output gains the ``layer`` column; a layer with zero edges
    has no rows (same as an empty-edge call).

    ``pre_barrier`` freezes the NARROW (layer, src, dst) projection of
    ``edges`` before the symmetrization union references it twice
    (r12, ADVICE r11): a DERIVED edge frame (LSH candidate generation,
    a similarity self-join) otherwise re-executes its post-checkpoint
    tail once per union branch when ``und`` materializes. Leave False
    for cheap edge frames (bare scans/filters), where the extra
    materialization is overhead."""
    ly = [layer] if layer is not None else []
    if pre_barrier:
        edges = edges.select(
            *ly, F.col(src), F.col(dst)
        ).localCheckpoint(eager=False)
    und = (
        edges.select(*ly, F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(*ly, F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 0 fused into initialization (r11): with comp0 = id, the
    # first propagation's neighbor minimum is just min(b), so comp1
    # comes out of the same aggregation that enumerates the nodes —
    # one join+agg round saved on every call.
    comp = (
        und.groupBy(*ly, "a")
        .agg(F.min("b").alias("_mb"))
        .select(
            *ly, F.col("a").alias("id"), F.least("a", "_mb").alias("comp")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            und.join(comp.withColumnRenamed("id", "b"), [*ly, "b"])
            .groupBy(*ly, "a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "id")
        )
        # convergence flag computed INLINE (labels are monotone
        # non-increasing, so "changed" == "strictly decreased") — the
        # previous new-vs-old comparison join re-shuffled both label
        # frames every round just to detect it (r11)
        new_comp = (
            comp.join(nbr_min, [*ly, "id"], "left")
            .select(
                *ly,
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                (
                    F.coalesce("nbr_comp", F.col("comp")) < F.col("comp")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_comp.filter("_chg").count()
        comp = new_comp.select(*ly, "id", "comp")
        if changed == 0:
            return comp.select(*ly, "id", F.col("comp").alias("component"))
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def triangle_count(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Global triangle count of an undirected simple graph — the
    node-iterator-with-degree-orientation algorithm (Schank/Wagner;
    Suri & Vassilvitskii's MapReduce formulation): orient every edge
    from its lower-degree endpoint to the higher (ties by id), build
    wedges by joining oriented edges on their SOURCE, and count wedges
    whose closing edge exists. Orientation is the scale mechanism: a
    hub of degree d contributes min-degree-ordered wedges only, so
    wedge volume is O(m^1.5) instead of Σd² — the difference between a
    social-graph run finishing and not.

    One degree aggregation, two hash joins on edge keys (the wedge join
    + the closing-edge semi join); nothing vertex-quadratic. Returns a
    single row (n_triangles).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)  # feeds degrees + orientation + probe
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("_db"))
    # orient low(degree, id) -> high(degree, id): a strict total order, so
    # every edge appears exactly once and every triangle forms exactly one
    # wedge at its minimum vertex
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    wedge = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.w") < F.col("y.w"))
        .select(
            F.least("x.w", "y.w").alias("a"), F.greatest("x.w", "y.w").alias("b")
        )
    )
    closed = wedge.join(e, ["a", "b"], "left_semi")
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def clustering_coefficients(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-vertex local clustering coefficient: triangles_at(v) /
    (d(v)·(d(v)−1)/2) — the community-density signal next to
    :func:`triangle_count`'s global total. Same degree-oriented wedge
    machinery; each closed wedge credits all THREE of its vertices via
    one explode (3 rows per triangle — triangle-count sized, tiny next
    to edges), then a count join against degrees. Vertices with d < 2
    report 0. Returns (id, degree, n_triangles, coeff).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("_db"))
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    tri = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.w") < F.col("y.w"))
        .select(
            F.col("x.u").alias("u"),
            F.col("x.w").alias("p"),
            F.col("y.w").alias("q"),
        )
        .join(
            e,
            (F.col("p") == F.col("a")) & (F.col("q") == F.col("b")),
            "left_semi",
        )
    )
    per_v = (
        tri.select(F.explode(F.array("u", "p", "q")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    possible = (F.col("d") * (F.col("d") - 1) / 2).cast("double")
    return (
        deg.join(per_v, "v", "left")
        .select(
            F.col("v").alias("id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    F.coalesce("n_triangles", F.lit(0)) / possible,
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coeff"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED edge list (each edge
    contributes both directions): r₀ = 1/n, then ``iterations`` rounds of
    r'(v) = (1-β)/n + β·Σ_{u∈N(v)} r(u)/deg(u) — the synchronous power
    iteration every distributed graph engine runs (Pregel / GraphX
    semantics, expressed as join + partial-agg sum).

    Scale shape: the rank frame is node-sized, the per-round work is one
    (edges ⋈ ranks) hash join shuffling edge-sized (u, r/deg)
    contributions into a map-side-combined sum by destination — no
    adjacency list is ever collected per node, so a 10⁹-edge hub graph
    spreads like any aggregation. Only ``und`` and ``deg`` carry lazy
    localCheckpoint barriers (each appears in every round — the RDD
    materializes once and all rounds read it); the rounds themselves
    nest WITHOUT per-round checkpoints: the loop is fixed-count with no
    per-round action, the plan grows linearly (each round adds one
    join+agg over the two frozen LogicalRDDs), and a per-round
    ``localCheckpoint`` runs a FULL Catalyst pass + ``toRdd`` at call
    time — five escalating plan compiles during query construction,
    ~2 s of driver time per call site for zero execution benefit
    (r11; the unbounded-round ``connected_components`` loop is
    different — its per-round count() action needs the barrier).
    Isolated nodes never appear in ``edges`` by definition; callers
    wanting them union rank (1-β)/n + β·(dangling mass)/n — with
    symmetric edges every listed node has deg ≥ 1, so no dangling
    redistribution is needed.

    Returns (id, rank) with ranks summing to ~1 over listed nodes.
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # deg feeds the initial ranks plus every round's left join — freeze
    # it once so the rounds read one node-sized RDD instead of
    # re-aggregating the edge frame per round
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_d"))
        .localCheckpoint(eager=False)
    )
    n = deg.count()
    base = (1.0 - damping) / n
    ranks = deg.select("u", F.lit(1.0 / n).alias("_r"), "_d")
    for i in range(iterations):
        contrib = (
            und.join(ranks, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.col("_r") / F.col("_d")).alias("_in"))
        )
        ranks = deg.join(contrib, "u", "left").select(
            "u",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
            ).alias("_r"),
            "_d",
        )
        # lineage cap (ADVICE r11): the no-barrier form was validated for
        # the default handful of rounds, where the linearly-growing plan
        # is cheap; a caller asking for many rounds would otherwise pay
        # superlinear Catalyst analysis on the final action. One lazy
        # barrier every 10 rounds bounds plan depth without re-adding the
        # per-round compile cost the r11 change removed (no barrier ever
        # fires at the default iterations=5).
        if (i + 1) % 10 == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("u").alias("id"), F.col("_r").alias("rank"))
