"""Transitive closure over edge relations (skosify ``transitive=True``).

The reference reaches this capability through its ``--skosify cfg``
post-pass (/root/reference/mc2skos/mc2skos.py:198-201 with
/root/reference/examples/skosify.cfg:3 setting ``transitive=True`` —
skosify materializes ``skos:broaderTransitive`` from the broader
hierarchy).  Spark-first this is the classic iterative-doubling join:

    paths₀ = edges
    pathsₙ₊₁ = distinct(pathsₙ ∪ (pathsₙ ⋈ pathsₙ))

Path length doubles per round, so the driver loop runs O(log diameter)
rounds; each round is one self-join + one dedup shuffle, lineage is cut
with ``localCheckpoint`` (same loop discipline as the connected-
components operator, ``operators/canonicalize.py:95``), and convergence
is a driver-side count comparison.  The count that materializes the
deduplicated edge list seeds that comparison and sizes round 1's join,
so an input that is already closed (a one-level hierarchy) stops after
round 1: no round exists only to confirm the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mc2skos_spark.core.constants import SKOS


def loop_width(rows: int) -> int:
    """Partition count of an iterative loop's join exchange: ~1M rows
    per partition, floor 8.  Every graph loop (closure, connected
    components, PageRank) sizes its joins with this from a count it
    already paid, and applies it with ``repartition(width, key)`` on
    the join inputs, so the session's ``spark.sql.shuffle.partitions``
    is never read-modified."""
    return max(8, rows // 1_000_000)


def transitive_closure(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """(src, dst) edge list → all (src, dst) pairs connected by a
    directed path of ≥1 edges.  Cycles are safe (a node never pairs
    with itself unless the input contains a genuine cycle).

    The per-round self-join runs at ``loop_width`` of the path count
    the previous round — or, for round 1, the deduplicated edge list —
    already paid: both join inputs are ``repartition(width,
    join_key)``-ed, which REPLACES the exchange the join would have
    planned anyway, so concurrent queries on a shared session keep
    their own width.  The grow-step ``distinct`` stays at session width
    (AQE coalesces; map-side partial combine applies).

    Fixpoint test: a round whose path count equals the count before it
    derived nothing, so the loop returns.  An already-closed input
    therefore costs the edge-list job plus one round.  Raises
    ``RuntimeError`` when ``max_rounds`` rounds pass without reaching
    the fixpoint — a partial closure is never returned.
    """
    # LAZY checkpoint + count: the count action itself materializes the
    # checkpoint (one Spark job, not two) — at bench scale iterative-loop
    # wall time is job count, not data (CLAUDE.md)
    paths = (edges.select("src", "dst").distinct()
             .localCheckpoint(eager=False))
    n = paths.count()
    for _ in range(max_rounds):
        width = loop_width(n)
        hops = (paths.repartition(width, "dst").alias("a")
                .join(paths.repartition(width, "src").alias("b"),
                      F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst")))
        paths = (paths.unionByName(hops).distinct()
                 .localCheckpoint(eager=False))
        m = paths.count()
        if m == n:   # fixpoint: no new reachable pair this round
            return paths
        n = m
    raise RuntimeError(
        "transitive closure did not converge in %d rounds" % max_rounds)


def cycle_members(edges: DataFrame) -> DataFrame:
    """Vertices that lie on a directed cycle: ``(vertex)``.

    A vertex is on a cycle iff it reaches itself through ≥1 edge, i.e.
    the transitive closure contains the pair (v, v) — so this reuses
    the doubling loop verbatim and filters the diagonal.  This is the
    first slice of the skosify *validation* pass the reference reaches
    via ``--skosify`` (/root/reference/mc2skos/mc2skos.py:198-201:
    skosify's hierarchy checks reject ``skos:broader`` cycles); here it
    feeds the warning side-channel instead of a hard failure.
    """
    closure = transitive_closure(edges)
    return (closure.filter(F.col("src") == F.col("dst"))
            .select(F.col("src").alias("vertex")))


def _broader_edges(triples: DataFrame) -> DataFrame:
    return (triples
            .filter((F.col("pred") == SKOS + "broader") &
                    ~F.col("obj_is_literal"))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))


def broader_cycle_warnings(triples: DataFrame,
                           closed: bool = False) -> DataFrame:
    """``skos:broader`` cycle report in the warning-channel shape
    ``(record_id, reason)`` — a concept hierarchy must be a DAG, so any
    URI on a broader-cycle is flagged (skosify's hierarchy-cycle check,
    warn-and-report rather than throw, matching the P7/P8 policy).

    ``closed``: ``triples`` already holds the closure of its broader
    edges as ``skos:broaderTransitive`` rows (:func:`broader_transitive`
    unioned in), so the cycle members are its diagonal and the edges
    are not closed a second time."""
    if closed:
        members = (triples
                   .filter((F.col("pred") == SKOS + "broaderTransitive")
                           & (F.col("subj") == F.col("obj")))
                   .select(F.col("subj").alias("vertex")))
    else:
        members = cycle_members(_broader_edges(triples))
    return members.select(
        F.col("vertex").alias("record_id"),
        F.lit("skos:broader cycle").alias("reason"))


def broader_transitive(triples: DataFrame) -> DataFrame:
    """Materialize ``skos:broaderTransitive`` triples from the asserted
    ``skos:broader`` edges — the Spark counterpart of skosify's
    hierarchical transitive inference."""
    closure = transitive_closure(_broader_edges(triples))
    return closure.select(
        F.col("src").alias("subj"),
        F.lit(SKOS + "broaderTransitive").alias("pred"),
        F.col("dst").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("int").alias("component_pos"),
        F.lit(None).cast("string").alias("record_id"))
