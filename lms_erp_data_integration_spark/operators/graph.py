"""Graph operators: iterative PageRank over a co-occurrence graph.

Complements the connected-components operator in ``dedup.py`` as the
second driver-loop iterative algorithm family (SURVEY.md iterative
coverage). All rank arithmetic is integer-scaled (micro-units with
integer division) so every iteration is bit-reproducible across
engines and partitionings — float PageRank sums would depend on
accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..hints import bounded_broadcast


def pagerank_micros(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    degrees: DataFrame | None = None,
    handle_dangling: bool = False,
) -> DataFrame:
    """Iterative PageRank in exact integer micro-units.

    ``edges`` is a directed edge list (``src``, ``dst``). The default
    path assumes every node has at least one out-edge (true for
    symmetric co-occurrence graphs) and skips sink bookkeeping;
    ``handle_dangling=True`` switches to the full formulation — the
    node universe becomes ``src ∪ dst`` and each round the rank mass
    on sink nodes is redistributed uniformly inside the damping term
    (see ``_iterate_with_dangling``). On a sinkless graph both paths
    produce identical ranks for the receiving nodes.
    Per iteration: each node sends ``rank div out_degree`` to each
    neighbor (integer division), and ranks update as
    ``(1 - d) + d * sum(contributions)`` in the same integer scale.

    Scale: the (often expensive) input edge lineage is evaluated ONCE
    — the edge list is persisted, out-degree (with multiplicity) is
    folded into a persisted ``(src, dst, deg)`` adjacency via one
    node-sized join up front, and every round's join derives from
    that. Rounds therefore do ONE node-sized join each instead of a
    degree join plus a rank join. The degree and rank tables are
    node-sized and partially aggregated map-side.

    ``degrees`` (columns ``node``, ``deg``) lets the caller supply
    out-degrees computed UPSTREAM of the edge expansion — e.g. from
    basket sizes before the quadratic pair explode. That collapses the
    build to a single pass and a single persist (no edges persist just
    to derive degrees from the expanded list). Contract: ``degrees``
    must cover exactly the nodes with at least one out-edge, with
    multi-edge multiplicity.

    The rank and degree vectors are node-sized, so they carry no
    broadcast hint (at web-scale node counts a forced broadcast would
    OOM the driver; AQE still broadcasts them while they are small).
    The adjacency is hash-partitioned on ``src`` before the persist,
    and the rank vector arrives partitioned on the node key from its
    own aggregate, so every round reuses that one partitioning. The
    node-sized rank vector is localCheckpoint'ed between rounds (same
    pattern as ``dedup.duplicate_clusters``): driver-side
    re-optimization of the deepening plan at AQE stage boundaries
    otherwise dominates the actual work.
    """
    edges = edges.select("src", "dst")
    # Out-degree (with multiplicity) folds into the persisted adjacency
    # via ONE node-sized join up front, so each round does a single
    # rank join instead of rank + degree.
    if degrees is None:
        # deg must come from the expanded edge list: persist it (two
        # consumers), then derive deg — partial-aggregated map-side to
        # node count, a narrow shuffle.
        edges = tracked_persist(edges.repartition("src"))
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).select(
            F.col("src").alias("dsrc"), "deg"
        )
    else:
        deg = degrees.select(
            F.col("node").alias("dsrc"), F.col("deg").cast("long").alias("deg")
        )
    adj = edges.join(deg, F.col("src") == F.col("dsrc")).select(
        "src", "dst", "deg"
    )
    if degrees is not None:
        adj = adj.repartition("src")
    adj = tracked_persist(adj)
    keep = 100 - damping_pct

    if handle_dangling:
        return _iterate_with_dangling(adj, deg, iterations, damping_pct, keep)

    rank = deg.select(
        F.col("dsrc").alias("node"), F.lit(1_000_000).cast("long").alias("r")
    )
    for i in range(iterations):
        rank = (
            adj.join(rank, F.col("src") == F.col("node"))
            .select(
                F.col("dst").alias("node2"),
                F.expr("r div deg").alias("c"),
            )
            .groupBy("node2")
            .agg(
                (
                    F.lit(keep * 10_000)
                    + F.expr(f"({damping_pct} * sum(c)) div 100")
                ).alias("r")
            )
            .select(F.col("node2").alias("node"), "r")
        )
        if i < iterations - 1:
            # Truncate lineage between rounds (same pattern as
            # dedup.duplicate_clusters): without this, round N's plan
            # nests all prior rounds and the DRIVER-side cost —
            # re-optimizing the deepening plan at every AQE stage
            # boundary — dwarfs the actual node-sized work (measured
            # ~2-4 s of planning per stage at 3 rounds, vs ~100 ms of
            # execution). The checkpointed vector is node-sized.
            rank = rank.localCheckpoint(eager=True)
    return rank


def _iterate_with_dangling(
    adj: DataFrame,
    deg: DataFrame,
    iterations: int,
    damping_pct: int,
    keep: int,
) -> DataFrame:
    """Dangling-mass PageRank rounds: the node universe is
    ``distinct(src) ∪ distinct(dst)``; each round the rank mass sitting
    on sink nodes (no out-edges) is collected into ONE scalar and
    redistributed uniformly inside the damping term —
    ``r'(v) = (1-d) + d * (Σ contributions(v) + dangling div n)``, all
    in exact integer micro-units (``div`` truncation loses < n micro
    per round, never re-ordered).

    Scale: the extra cost per round is one node-sized anti-join + one
    global sum (a scalar broadcast — same pattern as the q11/q15
    scalar subqueries) and a node-sized left join to give sinks and
    source-less nodes their rows. Everything stays node-count-sized;
    the edge-sized join is unchanged from the sinkless path."""
    nodes = tracked_persist(
        adj.select(F.col("src").alias("node"))
        .union(adj.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = bounded_broadcast(
        nodes.agg(F.count(F.lit(1)).alias("n_nodes")), "scalar-agg", "1-row count"
    )
    rank = nodes.select("node", F.lit(1_000_000).cast("long").alias("r"))
    for i in range(iterations):
        contrib = (
            adj.join(rank, F.col("src") == F.col("node"))
            .select(
                F.col("dst").alias("node2"),
                F.expr("r div deg").alias("c"),
            )
            .groupBy("node2")
            .agg(F.sum("c").alias("sc"))
        )
        dangling = bounded_broadcast(
            rank.join(deg, F.col("node") == F.col("dsrc"), "left_anti").agg(
                F.coalesce(F.sum("r"), F.lit(0)).alias("dang_sum")
            ),
            "scalar-agg",
            "1-row dangling mass",
        )
        rank = (
            nodes.join(contrib, F.col("node") == F.col("node2"), "left")
            .crossJoin(dangling)
            .crossJoin(n_nodes)
            .select(
                "node",
                (
                    F.lit(keep * 10_000)
                    + F.expr(
                        f"({damping_pct} * (coalesce(sc, 0)"
                        " + dang_sum div n_nodes)) div 100"
                    )
                ).alias("r"),
            )
        )
        if i < iterations - 1:
            rank = rank.localCheckpoint(eager=True)
    return rank


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle count via DEGREE ORIENTATION — the
    standard scalable formulation: orient every undirected edge from
    its lower-(degree, id) endpoint to the higher one, generate wedges
    only along the orientation, and close them with a semi-join.
    Out-degree under this orientation is O(sqrt(m)) for any graph, so
    wedge generation is bounded by sum(out_deg^2) = O(m^1.5) — never
    the naive sum(deg^2), which one celebrity node makes quadratic.

    Input: distinct undirected edges as (u, v) with u < v. Output: one
    row (n_nodes, n_edges, triangles). Each triangle is counted
    exactly once: for oriented edge (a, b), the common out-neighbors
    |adj+(a) ∩ adj+(b)| are exactly the apexes closing it.

    Rather than materializing the wedge set (measured 4-5x slower at
    sf0.1: ~10M wedge rows shuffled twice), out-adjacency is packed
    into one sorted array per node — bounded by the O(sqrt(m))
    oriented out-degree, so collect_list is executor-safe at any
    skew — and each edge does one narrow array_intersect. Two
    node-keyed joins of edge-sized rows, zero wedge-sized shuffles.
    No driver state."""
    und = tracked_persist(edges.select("u", "v"))
    deg = tracked_persist(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v"
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = tracked_persist(
        e.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    adj = oriented.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    tri = (
        oriented.join(
            adj.select(F.col("a"), F.col("nbrs").alias("na")), "a"
        )
        .join(
            adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb")),
            "b",
        )
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("na", "nb"))), F.lit(0)
            )
            .cast("long")
            .alias("triangles")
        )
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nn.crossJoin(bounded_broadcast(ne, "scalar-agg", "1-row edge count"))
        .crossJoin(bounded_broadcast(tri, "scalar-agg", "1-row triangle count"))
        .select("n_nodes", "n_edges", "triangles")
    )
