"""SKOS label validation — the second slice of skosify's check pass.

The reference reaches label validation through its ``--skosify cfg``
post-pass (/root/reference/mc2skos/mc2skos.py:198-201): skosify's
``check`` module flags hierarchy cycles (see ``operators/closure.py``),
concepts whose ``skos:altLabel`` duplicates their own ``prefLabel``
(``check.label_overlap`` — skosify drops the redundant altLabel), and
concepts holding multiple ``prefLabel``s in one language (the
``preflabel_policy`` trigger).  A conventional curation check on top:
two concepts in the same scheme sharing a (prefLabel, lang) usually
signals a merge candidate.

Spark-first shapes: every check is a hash aggregate or a semi/anti
join on (subj, label, lang) — no iteration, no window over concepts,
all partial-combinable, so each survives 100 TB as a single shuffle
keyed by label or subject.  Reports feed the warning side-channel
(same warn-and-continue policy as P7/P8); ``drop_redundant_altlabels``
is the one *repair* skosify applies automatically, re-expressed as an
anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.constants import SKOS


def _pref_labels(triples: DataFrame) -> DataFrame:
    return (triples
            .filter((F.col("pred") == SKOS + "prefLabel") &
                    F.col("obj_is_literal"))
            .select("subj", F.col("obj").alias("label"),
                    F.col("obj_lang").alias("lang")))


def duplicate_preflabels(triples: DataFrame) -> DataFrame:
    """Concepts carrying >1 *distinct* ``skos:prefLabel`` in one
    language — skosify's ``preflabel_policy`` situation.  ``(subj,
    lang, n_labels, labels)`` with labels sorted for determinism.
    Counts DISTINCT labels (collect_set), so duplicate identical
    (subj, label, lang) triple rows in a not-yet-deduplicated table
    never produce a false warning for a single label."""
    return (_pref_labels(triples)
            .groupBy("subj", "lang")
            .agg(F.count_distinct("label").alias("n_labels"),
                 F.array_join(F.array_sort(F.collect_set("label")), "|")
                 .alias("labels"))
            .filter(F.col("n_labels") > 1))


def overlapping_labels(triples: DataFrame) -> DataFrame:
    """Concepts whose ``altLabel`` equals their own ``prefLabel``
    (value + language) — skosify ``check.label_overlap``.  Returns the
    offending ``(subj, label, lang)`` rows."""
    alts = (triples
            .filter((F.col("pred") == SKOS + "altLabel") &
                    F.col("obj_is_literal"))
            .select("subj", F.col("obj").alias("label"),
                    F.col("obj_lang").alias("lang")))
    prefs = (_pref_labels(triples)
             .select(F.col("subj").alias("p_subj"),
                     F.col("label").alias("p_label"),
                     F.col("lang").alias("p_lang")))
    # eqNullSafe on lang: labels without a language tag still conflict
    return alts.join(
        prefs,
        (alts["subj"] == prefs["p_subj"]) &
        (alts["label"] == prefs["p_label"]) &
        alts["lang"].eqNullSafe(prefs["p_lang"]), "left_semi")


def drop_redundant_altlabels(triples: DataFrame) -> DataFrame:
    """skosify's automatic repair for ``label_overlap``: remove every
    ``altLabel`` triple duplicating the concept's own ``prefLabel``;
    all other triples pass through untouched.  Only *literal*
    altLabels are candidates for the drop — a URI-valued altLabel
    whose string happened to equal an offending literal must pass
    through (only literals can overlap a literal prefLabel)."""
    offending = (overlapping_labels(triples)
                 .select(F.col("subj").alias("o_subj"),
                         F.col("label").alias("o_label"),
                         F.col("lang").alias("o_lang")))
    alt = (F.col("pred") == SKOS + "altLabel") & F.col("obj_is_literal")
    kept_alts = triples.filter(alt).join(
        offending,
        (F.col("subj") == F.col("o_subj")) &
        (F.col("obj") == F.col("o_label")) &
        F.col("obj_lang").eqNullSafe(F.col("o_lang")), "left_anti")
    return triples.filter(~alt).unionByName(kept_alts)


def validation_warnings(triples: DataFrame,
                        closed: bool = False) -> DataFrame:
    """The full check-pass report in the warning-channel shape
    ``(record_id, reason)`` (same contract as P7/P8 warnings, keyed by
    concept URI): broader-hierarchy cycles, altLabel/prefLabel
    overlaps, multiple prefLabels per language, and same-scheme shared
    prefLabels.  Deterministic reasons, deduplicated.  ``closed``:
    ``triples`` already carries its ``skos:broaderTransitive`` closure,
    whose diagonal gives the cycles without a second closure (see
    ``closure.broader_cycle_warnings``)."""
    from .closure import broader_cycle_warnings

    cycles = broader_cycle_warnings(triples, closed=closed)
    overlaps = overlapping_labels(triples).select(
        F.col("subj").alias("record_id"),
        F.concat(F.lit("altLabel duplicates prefLabel '"),
                 F.col("label"), F.lit("'@"),
                 F.coalesce(F.col("lang"), F.lit("-")))
        .alias("reason"))
    dups = duplicate_preflabels(triples).select(
        F.col("subj").alias("record_id"),
        F.concat(F.col("n_labels").cast("string"),
                 F.lit(" prefLabels @"),
                 F.coalesce(F.col("lang"), F.lit("-")))
        .alias("reason"))
    shared = (shared_preflabels(triples)
              .select(F.explode(F.split("concepts", "[|]", -1))
                      .alias("record_id"),
                      F.concat(F.lit("prefLabel '"), F.col("label"),
                               F.lit("'@"),
                               F.coalesce(F.col("lang"), F.lit("-")),
                               F.lit(" shared by "),
                               F.col("n_concepts").cast("string"),
                               F.lit(" concepts in "), F.col("scheme"))
                      .alias("reason")))
    return (cycles.unionByName(overlaps).unionByName(dups)
            .unionByName(shared)
            .dropDuplicates(["record_id", "reason"]))


def shared_preflabels(triples: DataFrame) -> DataFrame:
    """Distinct concepts in the SAME scheme sharing a (prefLabel,
    lang) — merge-candidate report ``(scheme, label, lang, n_concepts,
    concepts)``, concepts sorted and pipe-joined for deterministic
    downstream hashing.  One shuffle keyed by (scheme, label, lang)
    after an equi-join attaching scheme membership."""
    schemes = (triples
               .filter((F.col("pred") == SKOS + "inScheme") &
                       ~F.col("obj_is_literal"))
               .select("subj", F.col("obj").alias("scheme")))
    return (_pref_labels(triples)
            .join(schemes, "subj")
            .groupBy("scheme", "label", "lang")
            .agg(F.count_distinct("subj").alias("n_concepts"),
                 F.array_join(F.array_sort(F.collect_set("subj")), "|")
                 .alias("concepts"))
            .filter(F.col("n_concepts") > 1))
