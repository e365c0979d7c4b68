"""Entity-link scoring — cross-vocabulary alignment candidates.

north_star: "batched mention detection and entity-link scoring".  The
reference's linking is purely explicit — 7XX/024 match edges
(/root/reference/mc2skos/mc2skos.py via record.py's relations) and our
identifier-equality sameAs candidates (`operators/canonicalize.py`).
At corpus scale, concepts from DIFFERENT schemes describing the same
entity often share no identifier, so linking needs a *scored*
candidate generator on top of the exact one.

Spark-first shapes, all 100 TB-safe:

* label similarity reuses the shingle machinery
  (``functions/dedup.py:shingles``): explode concept prefLabels to
  word n-grams, cap stop-shingles, equi-join on the shingle — candidate
  generation is linear in shingle volume, never all-pairs;
* the cross-scheme restriction (alignment links schemes, dedup within
  a scheme is `validate.shared_preflabels`' job) is two hash joins
  against the inScheme edge set;
* scored edges union with identifier edges at score 1.0, and the
  existing union-find (``connected_components``) turns any
  threshold-filtered edge set into a canonical mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.constants import SKOS
from ..functions.dedup import jaccard_pairs_from_shingles, shingles
from .canonicalize import candidate_sameas_edges, mapping_from_edges


def label_link_candidates(triples: DataFrame, threshold: float = 0.9,
                          n: int = 2,
                          max_shingle_freq: int | None = 100) -> DataFrame:
    """(src, dst, score) cross-scheme concept pairs whose prefLabel
    word-``n``-gram Jaccard ≥ ``threshold`` (src < dst).

    Multi-label concepts (language variants) contribute the UNION of
    their labels' shingle sets — each label shingles independently, so
    no phantom n-grams span label boundaries."""
    labels = (triples
              .filter((F.col("pred") == SKOS + "prefLabel") &
                      F.col("obj_is_literal"))
              .select("subj", F.col("obj").alias("label")))
    schemes = (triples
               .filter((F.col("pred") == SKOS + "inScheme") &
                       ~F.col("obj_is_literal"))
               .select(F.col("subj").alias("id"),
                       F.col("obj").alias("scheme"))
               .distinct())

    # multi-label subjects repeat shingles across labels → distinct
    # (id, sh) keeps set semantics before the shared scorer
    sh = (labels.select(F.col("subj").alias("id"),
                        F.explode(shingles(F.col("label"), n)).alias("sh"))
          .distinct())
    pairs = jaccard_pairs_from_shingles(
        sh, threshold, max_shingle_freq,
        a_col="src", b_col="dst", score_col="score")
    # alignment is cross-scheme by definition; same-scheme label
    # collisions are the validation pass's merge-candidate report
    return (pairs
            .join(schemes.withColumnRenamed("id", "src")
                         .withColumnRenamed("scheme", "scheme_a"), "src")
            .join(schemes.withColumnRenamed("id", "dst")
                         .withColumnRenamed("scheme", "scheme_b"), "dst")
            .filter(F.col("scheme_a") != F.col("scheme_b"))
            .select("src", "dst", "score")
            .distinct())


def scored_sameas_edges(triples: DataFrame,
                        threshold: float = 0.9) -> DataFrame:
    """(src, dst, score): identifier-equality edges at score 1.0
    unioned with label-similarity candidates; a pair found both ways
    keeps its best score."""
    ident = (candidate_sameas_edges(triples)
             .select("src", "dst",
                     F.lit(1.0).cast("double").alias("score")))
    lbl = label_link_candidates(triples, threshold)
    return (ident.unionByName(lbl)
            .groupBy("src", "dst").agg(F.max("score").alias("score")))


def linked_canonical_mapping(triples: DataFrame,
                             link_threshold: float = 0.9) -> DataFrame:
    """(uri, canonical) mapping over the scored edge set — the
    entity-linking variant of ``canonical_mapping``: identifier
    equality AND label similarity ≥ link_threshold feed the same
    union-find."""
    # scored_sameas_edges already applies link_threshold to the label
    # candidates and identifier edges score 1.0 — no re-filter needed
    edges = (scored_sameas_edges(triples, link_threshold)
             .select("src", "dst"))
    return mapping_from_edges(edges)
