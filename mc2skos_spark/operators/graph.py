"""Graph analytics over edge tables: PageRank and triangle counting.

Complements the iterative-graph family (union-find connected
components in :mod:`operators.canonicalize`, transitive closure /
cycle detection in :mod:`operators.closure`) with the weighted-
propagation shape: per-round JOIN (ranks onto out-edges) + AGGREGATE
(sum of contributions per destination), the canonical bulk-iterative
workload every large-scale graph engine is measured on.  Its loop
takes the family's one width rule (``closure.loop_width``) and one
lazy checkpoint per round.  Both operators read an ``(src, dst)``
edge list.

Determinism across engines: ranks are 10^12-scaled INTEGERS end to
end.  Every per-edge contribution is an exact integer division
(``div``), and the per-destination sum is an integer sum —
summation-order-independent, so Spark and the DuckDB oracle agree
bit-for-bit after any shuffle.  A double-typed rank would drift in the
last ulp depending on aggregation order.

Formulation is the simplified Brin–Page iteration
``R(v) = (1-d)/N + d * Σ R(u)/outdeg(u)``.  Dangling nodes (no
out-edges) leak their damped mass by default — the usual choice when
ranks are only used for ordering; ``redistribute_dangling=True``
switches to the mass-conserving standard form that spreads the summed
dangling rank uniformly (``+ d·D/N`` per node, where D = Σ ranks of
dangling nodes) at the cost of ONE extra 1-row aggregate per round —
still integer-exact.  Fixed iteration count, not convergence-tested:
PageRank at corpus scale is run for a budgeted number of rounds
(10-20 in practice; the oracle unrolls the same count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .closure import loop_width

SCALE = 10**12


def pagerank(edges: DataFrame, iterations: int = 3,
             damping_pct: int = 85,
             redistribute_dangling: bool = False) -> DataFrame:
    """Fixed-point PageRank over an ``(src, dst)`` edge list.

    Returns ``(node, rank_scaled, rank)`` — ``rank_scaled`` is the
    exact 10^12-scaled integer, ``rank`` the display double.

    Loop discipline (same as the closure/union-find loops): each round
    lazily localCheckpoints the new rank table to truncate lineage; the
    rank-onto-edges join runs at ``closure.loop_width`` of the node
    count (``repartition(width, key)`` on both inputs — the session's
    ``spark.sql.shuffle.partitions`` is never touched).  The static
    state (out-degree-annotated edges) is computed once, under round
    1's job; a localCheckpoint scan reports ``UnknownPartitioning``, so
    Catalyst still re-exchanges it each round.
    """
    if iterations < 1:
        raise ValueError("pagerank: need iterations >= 1")
    if not 0 < damping_pct < 100:
        raise ValueError("pagerank: damping_pct must be in (0, 100)")

    e = edges.select("src", "dst")
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct()
             .localCheckpoint(eager=False))
    # N is semantically required (the teleport term) — one
    # metadata-scale count, also reused to size the loop width
    n_nodes = nodes.count()
    width = loop_width(n_nodes)

    # static per-round join input: out-degree stapled onto each edge
    # once, so the loop joins ranks against ONE prepared table.  Lazy:
    # materializes under round 1's job, later rounds read the pinned
    # blocks — no dedicated prep job
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    e_deg = (e.join(deg, "src")
             .repartition(width, "src")
             .localCheckpoint(eager=False))

    # exact integer terms (Spark `div` == DuckDB `//` on BIGINT)
    base_val = (SCALE * (100 - damping_pct)) // (100 * n_nodes)
    init_val = SCALE // n_nodes

    if redistribute_dangling:
        # static dangling-node set: nodes with no out-edge.  The
        # per-round mass aggregate is ONE row (metadata-scale) and is
        # broadcast back into the rank update — never a driver action.
        dangling = (nodes.join(e_deg.select("src").distinct(),
                               nodes["node"] == F.col("src"), "left_anti")
                    .select("node")
                    .localCheckpoint(eager=False))

    # cast("long") matters: at small N the scaled literals fit int32,
    # and `r * 85` would then overflow under ANSI integer arithmetic.
    # LAZY checkpoints throughout the loop: the next round's job (or
    # the final action) materializes each round's rank table — one
    # Spark job per round instead of two (iterative wall time at bench
    # scale is job count; same discipline as the closure loop)
    ranks = nodes.select("node", F.lit(init_val).cast("long").alias("r")) \
        .localCheckpoint(eager=False)
    for _ in range(iterations):
        contrib = (e_deg
                   .join(ranks.repartition(width, "node"),
                         F.col("src") == F.col("node"))
                   .select(F.col("dst"),
                           F.expr(f"(r * {damping_pct}) div (100 * od)")
                            .alias("c"))
                   .groupBy("dst")
                   .agg(F.sum("c").alias("s")))
        extra = F.lit(0).cast("long")
        updated = nodes.join(contrib, nodes["node"] == contrib["dst"],
                             "left")
        if redistribute_dangling:
            # Σ ranks of dangling nodes, damped and split N ways as an
            # exact integer — the same div discipline as the edge term
            dm = (ranks.join(dangling, "node", "left_semi")
                  .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long")
                       .alias("dm")))
            updated = updated.crossJoin(F.broadcast(dm))
            extra = F.expr(f"(dm * {damping_pct}) div (100 * {n_nodes})")
        ranks = (updated
                 .select(F.col("node"),
                         (F.lit(base_val).cast("long")
                          + F.coalesce(F.col("s"), F.lit(0))
                          + extra)
                         .cast("long").alias("r"))
                 .localCheckpoint(eager=False))
    return ranks.select(F.col("node"),
                        F.col("r").alias("rank_scaled"),
                        (F.col("r") / float(SCALE)).alias("rank"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (undirected).

    Input edges may be directed, repeated, or self-looped; they are
    canonicalized to a distinct undirected set first.  Returns
    ``(node, n_triangles)`` for every node in at least one triangle.

    Scale shape — the degree-orientation algorithm (Schank–Wagner /
    Cohen's MapReduce form): orient each undirected edge from the
    endpoint with the smaller ``(degree, id)`` key to the larger.
    Every triangle then has exactly ONE wedge ``x→y, x→z`` with a
    closing oriented edge ``y→z``, so the wedge self-join (equi-join
    on the wedge apex) followed by one more equi-join on the closing
    edge counts each triangle exactly once — no distinct pass, no
    all-pairs anywhere.  Orientation bounds per-apex out-degree by
    O(sqrt(|E|)) on any graph (the classic arboricity argument), so
    the wedge join cannot blow up on hot hubs: a celebrity node with
    10^6 followers has out-degree ~0 after orientation because its
    (degree, id) key is largest — its wedges are generated at its
    low-degree neighbors instead.  All joins are equi-joins.

    The canonical edge set and the oriented edge set are each computed
    once, behind a lazy ``localCheckpoint``: the degree aggregate and
    both endpoint joins read the first, the two wedge sides and the
    closing edge read the second.  Referenced as plain subtrees, every
    copy would re-scan and re-deduplicate the input, and Spark could
    not share their exchanges: the optimizer infers a different
    not-null filter set for each copy, so no two are alike.  Without
    broadcast joins that leaves eight shuffles: the distinct, the
    degree aggregate (one exchange serves both endpoint joins), the
    edge side of each endpoint join, the wedge join (both sides share
    one exchange on the apex), the two sides of the closing join, and
    the final count.  At small sizes AQE broadcasts the joins instead.

    The per-node counts are orientation-independent (the triangle SET
    is a property of the undirected graph), so the DuckDB oracle can
    use plain id-ordered a<b<c triple joins.
    """
    # canonical edge set, computed once (see the docstring)
    e = (edges
         .filter(F.col("src") != F.col("dst"))
         .select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"))
         .na.drop()
         .distinct()
         .localCheckpoint(eager=False))
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # orientation key carried inline so the wedge pre-filter needs no
    # extra join: struct comparison = (degree, id) lexicographic
    keyed = (e.join(deg.withColumnRenamed("n", "a")
                    .withColumnRenamed("d", "da"), "a")
             .join(deg.withColumnRenamed("n", "b")
                   .withColumnRenamed("d", "db"), "b"))
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    # oriented edge set, computed once for its three consumers
    oriented = keyed.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(ka < kb, kb).otherwise(ka).alias("hi_key")
    ).localCheckpoint(eager=False)
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"),
                         F.col("hi_key").alias("ky"))
    w2 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"),
                         F.col("hi_key").alias("kz"))
    wedges = (w1.join(w2, "x")
              .filter(F.col("ky") < F.col("kz"))
              .select("x", "y", "z"))
    closing = oriented.select(F.col("lo").alias("y"),
                              F.col("hi").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    return (tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))
