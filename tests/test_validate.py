"""SKOS label validation (skosify check-pass slice 2: label overlap,
prefLabel policy, same-scheme merge candidates) — see
operators/validate.py; cycle detection (slice 1) is covered in
test_closure_rank.py."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.core.constants import SKOS
from mc2skos_spark.operators.extract import (extract_triples,
                                             triples_from_extracted)
from mc2skos_spark.operators.validate import (drop_redundant_altlabels,
                                              duplicate_preflabels,
                                              overlapping_labels,
                                              shared_preflabels)
from mc2skos_spark.plans import schemas
from mc2skos_spark.sources.synth import make_transcript_rows
from mc2skos_spark.sources.transcripts import reassemble_records

pytestmark = pytest.mark.spark


def _t(subj, pred, obj, literal=True, lang=None):
    return (subj, SKOS + pred, obj, literal, lang, None, None, "r1")


@pytest.fixture()
def label_triples(spark):
    rows = [
        # A: altLabel duplicates its own prefLabel (same lang) → overlap
        _t("A", "prefLabel", "alpha", lang="en"),
        _t("A", "altLabel", "alpha", lang="en"),
        _t("A", "altLabel", "alef", lang="en"),          # kept
        # B: same value but different lang → NOT an overlap
        _t("B", "prefLabel", "beta", lang="en"),
        _t("B", "altLabel", "beta", lang="de"),
        # C: overlap with NO language tag on either side → overlap
        _t("C", "prefLabel", "gamma"),
        _t("C", "altLabel", "gamma"),
        # D: two prefLabels in ONE language → preflabel policy hit
        _t("D", "prefLabel", "delta", lang="en"),
        _t("D", "prefLabel", "delta2", lang="en"),
        _t("D", "prefLabel", "delta-nb", lang="nb"),     # other lang: fine
        # E/F share a prefLabel within scheme s1; G matches in scheme s2
        _t("E", "prefLabel", "shared", lang="en"),
        _t("F", "prefLabel", "shared", lang="en"),
        _t("G", "prefLabel", "shared", lang="en"),
        _t("E", "inScheme", "s1", literal=False),
        _t("F", "inScheme", "s1", literal=False),
        _t("G", "inScheme", "s2", literal=False),
    ]
    return spark.createDataFrame(rows, schema=schemas.TRIPLES)


def test_overlapping_labels(label_triples):
    got = {(r["subj"], r["label"], r["lang"])
           for r in overlapping_labels(label_triples).collect()}
    assert got == {("A", "alpha", "en"), ("C", "gamma", None)}


def test_drop_redundant_altlabels_repairs_only_overlaps(label_triples):
    cleaned = drop_redundant_altlabels(label_triples)
    alts = {(r["subj"], r["obj"], r["obj_lang"])
            for r in cleaned.filter(F.col("pred") == SKOS + "altLabel")
            .collect()}
    # A keeps its distinct altLabel, B's cross-lang one survives,
    # C's duplicate is gone
    assert alts == {("A", "alef", "en"), ("B", "beta", "de")}
    # nothing else is touched
    assert cleaned.count() == label_triples.count() - 2
    assert (cleaned.filter(F.col("pred") != SKOS + "altLabel").count()
            == label_triples.filter(
                F.col("pred") != SKOS + "altLabel").count())


def test_duplicate_preflabels(label_triples):
    got = {(r["subj"], r["lang"], r["n_labels"], r["labels"])
           for r in duplicate_preflabels(label_triples).collect()}
    assert got == {("D", "en", 2, "delta|delta2")}


def test_duplicate_preflabels_ignores_duplicate_rows(spark):
    """A not-yet-deduplicated triple table may carry the SAME
    (subj, prefLabel, lang) row twice — that is one label, not a
    prefLabel-policy violation (the count must be over DISTINCT
    labels)."""
    rows = [_t("A", "prefLabel", "alpha", lang="en"),
            _t("A", "prefLabel", "alpha", lang="en"),
            _t("B", "prefLabel", "b1", lang="en"),
            _t("B", "prefLabel", "b2", lang="en"),
            _t("B", "prefLabel", "b2", lang="en")]
    df = spark.createDataFrame(rows, schema=schemas.TRIPLES)
    got = {(r["subj"], r["n_labels"], r["labels"])
           for r in duplicate_preflabels(df).collect()}
    assert got == {("B", 2, "b1|b2")}


def test_drop_redundant_altlabels_keeps_uri_valued_altlabel(spark):
    """Only LITERAL altLabels can overlap a literal prefLabel: a
    URI-valued altLabel whose string equals an offending literal must
    pass through the repair untouched."""
    rows = [_t("A", "prefLabel", "alpha", lang="en"),
            _t("A", "altLabel", "alpha", lang="en"),           # dropped
            ("A", SKOS + "altLabel", "alpha", False, "en", None, None,
             "r1")]                                            # kept
    df = spark.createDataFrame(rows, schema=schemas.TRIPLES)
    cleaned = drop_redundant_altlabels(df)
    kept = {(r["obj"], r["obj_is_literal"])
            for r in cleaned.filter(
                F.col("pred") == SKOS + "altLabel").collect()}
    assert kept == {("alpha", False)}
    assert cleaned.count() == 2


def test_shared_preflabels_scoped_to_scheme(label_triples):
    got = {(r["scheme"], r["label"], r["lang"], r["n_concepts"],
            r["concepts"])
           for r in shared_preflabels(label_triples).collect()}
    # E and F collide inside s1; G's identical label in s2 does not join
    assert got == {("s1", "shared", "en", 2, "E|F")}


def test_validation_warnings_report(spark, label_triples):
    from mc2skos_spark.operators.validate import validation_warnings
    cyc = spark.createDataFrame(
        [_t("X", "broader", "Y", literal=False),
         _t("Y", "broader", "X", literal=False)],
        schema=schemas.TRIPLES)
    got = {(r["record_id"], r["reason"])
           for r in validation_warnings(
               label_triples.unionByName(cyc)).collect()}
    assert got == {
        ("X", "skos:broader cycle"),
        ("Y", "skos:broader cycle"),
        ("A", "altLabel duplicates prefLabel 'alpha'@en"),
        ("C", "altLabel duplicates prefLabel 'gamma'@-"),
        ("D", "2 prefLabels @en"),
        ("E", "prefLabel 'shared'@en shared by 2 concepts in s1"),
        ("F", "prefLabel 'shared'@en shared by 2 concepts in s1"),
    }


def test_pipeline_validate_stage(spark, tmp_path):
    """validate=True commits a validation_warnings table without
    touching the published triples.  The synth corpus intentionally
    reuses caption vocabulary, so the ONLY warnings are same-scheme
    shared-prefLabel merge candidates — no cycles, no overlaps, no
    prefLabel-policy hits."""
    from mc2skos_spark.plans.pipeline import KgPipeline
    from mc2skos_spark.sources.synth import synth_marc_records
    rows = make_transcript_rows(synth_marc_records(30, seed=77), seed=78)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    pipe = KgPipeline(spark, str(tmp_path / "wh"), canonicalize=False,
                      validate=True)
    triples = pipe.run(df)
    assert ("validation_warnings", "ran") in pipe.stage_log
    warnings = pipe.catalog.read("validation_warnings").collect()
    assert warnings and all(" shared by " in r["reason"]
                            for r in warnings)
    baseline = KgPipeline(spark, str(tmp_path / "wh2"),
                          canonicalize=False).run(df)
    assert triples.count() == baseline.count()


def test_connected_components_empty_edges_fast_path(spark):
    """The empty candidate set skips the loop and keeps the edge id
    type (string URIs here, long doc ids in near_dup_keepers)."""
    from mc2skos_spark.operators.canonicalize import connected_components
    empty_s = spark.createDataFrame([], "src string, dst string")
    out = connected_components(empty_s)
    assert out.count() == 0
    assert dict(out.dtypes) == {"vertex": "string", "comp": "string"}
    from mc2skos_spark.functions.dedup import near_dup_keepers
    docs = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    keepers = {(r["id"], r["keeper_id"])
               for r in near_dup_keepers(docs, pairs).collect()}
    assert keepers == {(1, 1), (2, 2)}


def test_validation_clean_on_real_extraction(spark):
    """The real extraction semantics emit well-formed labels: running
    the checks over a synth-corpus conversion must flag nothing, and
    the repair pass must be the identity."""
    from mc2skos_spark.sources.synth import synth_marc_records
    rows = make_transcript_rows(synth_marc_records(60, seed=97), seed=98)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    triples = triples_from_extracted(
        extract_triples(reassemble_records(df)))
    assert overlapping_labels(triples).count() == 0
    assert duplicate_preflabels(triples).count() == 0
    assert drop_redundant_altlabels(triples).count() == triples.count()


def _authority(num: int, broader: int) -> tuple[str, str]:
    """An LCSH authority record ``sh<num>`` whose 550 $w g names
    ``sh<broader>`` as its broader term."""
    return ("sh%07d" % num, (
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        '<leader>00000nz  a2200000n  4500</leader>'
        '<controlfield tag="001">sh%07d</controlfield>'
        '<controlfield tag="008">120224n|aana               a aaa     '
        '</controlfield>'
        '<datafield tag="040" ind1=" " ind2=" ">'
        '<subfield code="b">eng</subfield></datafield>'
        '<datafield tag="150" ind1=" " ind2=" ">'
        '<subfield code="a">Term %d</subfield></datafield>'
        '<datafield tag="550" ind1=" " ind2=" ">'
        '<subfield code="w">g</subfield>'
        '<subfield code="0">sh%07d</subfield>'
        '<subfield code="a">Term %d</subfield></datafield>'
        '</record>') % (num, num, broader, broader))


def test_pipeline_cycle_report_closes_broader_once(spark, tmp_path,
                                                   monkeypatch):
    """A seeded broader cycle 1 → 2 → 3 → 1 (4 feeds into it): a
    validate-only build closes the broader edges to find it; a
    transitive build reads the same members off the diagonal of the
    closure it already committed, so its report is identical and the
    build runs one closure, not two."""
    from mc2skos_spark.operators import closure
    from mc2skos_spark.plans.pipeline import KgPipeline
    from mc2skos_spark.sources.synth import synth_marc_records

    records = [_authority(1, 2), _authority(2, 3), _authority(3, 1),
               _authority(4, 1)] + synth_marc_records(20, seed=5)
    df = spark.createDataFrame(make_transcript_rows(records, seed=6),
                               schema=schemas.TRANSCRIPTS)
    closures = []
    real_closure = closure.transitive_closure

    def counting_closure(edges, *args, **kwargs):
        closures.append(edges)
        return real_closure(edges, *args, **kwargs)

    monkeypatch.setattr(closure, "transitive_closure", counting_closure)

    def report(transitive):
        closures.clear()
        pipe = KgPipeline(spark, str(tmp_path / str(transitive)),
                          validate=True, transitive=transitive)
        triples = pipe.run(df)
        rows = {(r["record_id"], r["reason"])
                for r in pipe.catalog.read("validation_warnings").collect()}
        return rows, triples, len(closures)

    validate_only, triples, n_closures = report(transitive=False)
    assert n_closures == 1
    terms = {r["obj"]: r["subj"] for r in triples.filter(
        F.col("pred") == SKOS + "prefLabel").collect()}
    assert {rid for rid, reason in validate_only
            if reason == "skos:broader cycle"} == \
        {terms["Term %d" % n] for n in (1, 2, 3)}

    closed, _, n_closures = report(transitive=True)
    assert n_closures == 1          # triples_transitive's, reused
    assert closed == validate_only
