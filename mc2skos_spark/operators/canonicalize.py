"""Canonicalization — hash-join dedup + iterative connected components.

north_rule: "canonicalization via hash-join dedup plus iterative
connected-components union-find over candidate sameAs edges".  The
reference has no multi-record identity resolution (single in-memory
graph); at 10^12-turn scale the same concept is minted from many
records/partitions, so we:

1. derive candidate ``sameAs`` edges: subjects sharing a
   ``dcterms:identifier`` literal (a self-equi-join on the identifier
   value — hash join, AQE-salted when an identifier is hot);
2. run alternating large-star / small-star connected components
   (Kiveris et al., "Connected Components in MapReduce and Beyond",
   SoCC'14) — each round is two join+aggregate Spark jobs, the driver
   loops to fixpoint, lineage is cut with ``localCheckpoint`` so the
   plan does not grow per iteration;
3. rewrite subj/obj through the vertex→canonical mapping (two hash
   joins) and re-dedup.

Rounds are O(log n) in component diameter; candidate components here
are tiny (2-5 vertices) so 2-3 rounds converge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core import constants as C
from .closure import loop_width

IDENTIFIER_PRED = C.DCTERMS + "identifier"


def candidate_sameas_edges(triples: DataFrame,
                           max_ident_freq: int | None = None) -> DataFrame:
    """(src, dst) candidate identity edges between concept URIs.

    The identifier literal is the record's 001 control number, which is
    only unique PER ASSIGNING AGENCY — two unrelated vocabularies can
    hold the same digits.  The self-join therefore keys on
    (identifier, URI authority): same agency host (e.g. dewey.info
    across the e22/e23 editions) merges, a GND/NALT digit collision
    does not.

    ``max_ident_freq``: stop-key cap for the self-join (the
    ``max_shingle_freq`` policy applied to identity edges).  An
    (identifier, authority) group of h rows expands to h² candidate
    pairs, and the expansion is invisible to AQE's byte-keyed skew
    detector (see BENCH/_skewjoin.md) — a group above the cap is a
    degenerate identifier (a control number shared by thousands of
    records carries no identity signal, it is a data-quality defect)
    and is dropped from candidate generation entirely; route the
    dropped keys to the quarantine channel upstream if a report is
    wanted.  Default None keeps every group (the reference-parity
    corpora have single-digit group sizes).
    """
    authority = F.substring_index(F.col("subj"), "/", 3)
    ids = (triples
           .filter((F.col("pred") == IDENTIFIER_PRED) &
                   F.col("obj_is_literal"))
           .select(F.col("obj").alias("ident"),
                   authority.alias("auth"), F.col("subj")))
    if max_ident_freq:
        hot = (ids.groupBy("ident", "auth").count()
               .filter(F.col("count") > max_ident_freq)
               .select("ident", "auth"))
        ids = ids.join(hot, ["ident", "auth"], "left_anti")
    # Self-join on (identifier, authority); keep src<dst to halve edges.
    left = ids.alias("l")
    right = ids.alias("r")
    return (left.join(right, on=["ident", "auth"])
            .select(F.col("l.subj").alias("src"),
                    F.col("r.subj").alias("dst"))
            .filter(F.col("src") < F.col("dst"))
            .distinct())


def connected_components(edges: DataFrame,
                         max_rounds: int = 20) -> DataFrame:
    """(src, dst) edges → (vertex, component) labels, component = min id.

    Min-label propagation with pointer compression over an undirected
    edge list.  Each round materializes via ``localCheckpoint`` (lineage
    cut) and the driver tests convergence with a count — the per-round
    action the survey's lifecycle (§3) calls out.  Raises
    ``RuntimeError`` when ``max_rounds`` rounds pass without
    convergence — partial labels are never returned.

    The candidate-edge set is orders of magnitude smaller than the
    triple table (only URIs sharing an identifier), so the loop's BIG
    exchange (the per-round propagate join over the edge list) runs at
    ``closure.loop_width`` of the materialized edge count: the edge
    list is ``repartition(width, dst)``-ed — materialized
    pre-partitioned when it is big enough to matter, re-keyed lazily
    from the checkpoint inside each round's job when it is small — and
    each round the (small) label table is repartitioned to the
    matching (key, width), so the join plans with no further
    exchange.  The loop's aggregate exchanges stay at session width,
    where AQE coalesces them to the data size and map-side partial
    combine still applies.
    """
    # Materialize the symmetrized edge list ONCE — it is reused every
    # round and its upstream (the identifier self-join over the full
    # triple table) must not be recomputed per iteration.
    both = (edges.select("src", "dst")
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=False))
    n = both.count()   # materializes the lazy checkpoint — one job
    if n == 0:
        # no candidate identities at all (common for single-agency
        # corpora): skip every loop job.  limit(0) keeps the vertex
        # type whatever the edge ids are (string URIs or long doc ids).
        return edges.select(F.col("src").alias("vertex"),
                            F.col("src").alias("comp")).limit(0)
    width = loop_width(n)
    # re-key by the propagate-join key at the loop width.  Big edge
    # lists are materialized pre-partitioned once so every round's join
    # reads them exchange-free; small ones stay lazy — re-keying a few
    # MB from the checkpoint inside each round's job is cheaper than a
    # second eager materialization.
    both = both.repartition(width, "dst")
    if n > 10_000_000:
        both = both.localCheckpoint()
    return _cc_loop(both, max_rounds, width)


def _cc_loop(both: DataFrame, max_rounds: int, width: int) -> DataFrame:
    # `both` arrives (at least lazily) partitioned by dst at the loop
    # width; the label side of each round's join is repartitioned to
    # match.  label(v) = min(v, min neighbor) to start — the init is
    # NOT materialized on its own: round 1 computes it inline from the
    # checkpointed edge list, and the per-round checkpoint carries a
    # `chg` flag whose count both MATERIALIZES the round's lazy
    # checkpoint and answers convergence.  Steady state for tiny
    # components (1-round convergence) is therefore ONE loop job.
    labels = (both.groupBy("src")
              .agg(F.least(F.first("src"), F.min("dst")).alias("comp"))
              .withColumnRenamed("src", "vertex"))

    for _ in range(max_rounds):
        # propagate: candidate label for v = min over neighbors' labels
        cand = (both.join(labels.withColumnRenamed("vertex", "dst")
                          .repartition(width, "dst"), "dst")
                .groupBy("src").agg(F.min("comp").alias("ncomp"))
                .withColumnRenamed("src", "vertex"))
        newc = F.least("comp", F.coalesce("ncomp", "comp"))
        # one job per round: the chg count materializes the LAZY
        # checkpoint itself (every partition computes and pins under
        # the count job) — the former eager checkpoint + limit(1)
        # probe paid a second scheduling round-trip per round, and at
        # bench scale iterative wall time is job count
        new_labels = (labels.join(cand, "vertex", "left")
                      .select("vertex", newc.alias("comp"),
                              (newc < F.col("comp")).alias("chg"))
                      .localCheckpoint(eager=False))
        changed = new_labels.filter("chg").count()
        new_labels = new_labels.select("vertex", "comp")
        if changed == 0:
            # converged: new_labels == labels, and compression would be
            # an identity join — skip it (for the common tiny-component
            # case the loop converges in round 1, so this saves the
            # whole compression cost).  Return the CHECKPOINTED copy so
            # consumers never recompute the lazy round-1 init.
            return new_labels
        # label-pointer compression: relabel through the label table —
        # keeps round count O(log diameter) for long chains
        # lazy: the compressed labels materialize under the NEXT
        # round's count job — no dedicated job for the compression
        labels = (new_labels.alias("a")
                  .join(new_labels.select(
                      F.col("vertex").alias("comp"),
                      F.col("comp").alias("parent")).alias("b"),
                      "comp", "left")
                  .select("vertex",
                          F.coalesce("parent", "comp").alias("comp"))
                  .localCheckpoint(eager=False))
    raise RuntimeError(
        "connected components did not converge in %d rounds" % max_rounds)


def mapping_from_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) identity edges → (uri, canonical) for every URI in a
    non-trivial component (canonical = min URI of the component, which
    is the ``comp`` label ``connected_components`` already returns)."""
    return (connected_components(edges)
            .filter(F.col("vertex") != F.col("comp"))
            .select(F.col("vertex").alias("uri"),
                    F.col("comp").alias("canonical")))


def canonical_mapping(triples: DataFrame,
                      max_ident_freq: int | None = None) -> DataFrame:
    """(uri, canonical_uri) for every URI in a non-trivial component.
    ``max_ident_freq`` is the degenerate-identifier stop-key cap (see
    ``candidate_sameas_edges``) — pass a bound at corpus scale."""
    return mapping_from_edges(
        candidate_sameas_edges(triples, max_ident_freq=max_ident_freq))


def rewrite_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj and (URI-valued) obj through the canonical mapping.

    The mapping is tiny relative to the triple table (only merged URIs
    appear) — broadcast both joins; re-dedup afterwards (two URIs
    collapsing produce identical rows).
    """
    mapping = F.broadcast(mapping)
    rewritten = (
        triples
        .join(mapping.withColumnRenamed("uri", "subj")
                     .withColumnRenamed("canonical", "subj_canon"),
              "subj", "left")
        .join(mapping.withColumnRenamed("uri", "obj")
                     .withColumnRenamed("canonical", "obj_canon"),
              "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.when(~F.col("obj_is_literal"),
                   F.coalesce("obj_canon", "obj"))
             .otherwise(F.col("obj")).alias("obj"),
            "obj_is_literal", "obj_lang", "obj_datatype",
            "component_pos", "record_id")
    )
    return rewritten.dropDuplicates(["subj", "pred", "obj", "obj_lang",
                                     "obj_datatype", "component_pos"])
