"""Ordered Turtle / NDJSON / JSKOS sinks."""

import json

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.extract import extract_triples, triples_from_extracted
from mc2skos_spark.plans import schemas
from mc2skos_spark.sinks.serializers import (triples_to_ndjson,
                                             triples_to_turtle,
                                             turtle_sort_key)
from mc2skos_spark.sources.synth import fixture_records, make_transcript_rows
from mc2skos_spark.sources.transcripts import reassemble_records

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def ddc_triples(spark):
    # ddc21en has table + schedule numbers (sort families); ddc23no adds
    # records with 005/008 dates for the typed-literal rendering
    recs = [(s, x) for s, x in fixture_records() if s.startswith("ddc")]
    df = spark.createDataFrame(make_transcript_rows(recs, seed=3),
                               schema=schemas.TRANSCRIPTS)
    return triples_from_extracted(
        extract_triples(reassemble_records(df),
                        {"include_webdewey": True})).cache()


def test_turtle_sort_key_families(spark):
    df = spark.createDataFrame(
        [("http://dewey.info/class/6--98/e21/",),
         ("http://dewey.info/class/003.5/e21/",),
         ("http://example.org/whatever",)], ["subj"])
    keys = [r["k"] for r in
            df.select(turtle_sort_key(F.col("subj")).alias("k")).collect()]
    assert keys[0].startswith("C6--98")
    assert keys[1].startswith("B003.5")
    assert keys[2].startswith("Ahttp://")
    assert sorted(keys) == [keys[2], keys[1], keys[0]]  # A < B < C


def test_turtle_blocks_ordered_and_wellformed(ddc_triples):
    blocks = [r["block"] for r in triples_to_turtle(ddc_triples).collect()]
    assert blocks, "no output"
    # schedule numbers (B) before table numbers (C)
    schedule_pos = [i for i, b in enumerate(blocks) if "/class/003" in b]
    table_pos = [i for i, b in enumerate(blocks) if "/class/6--98" in b]
    assert schedule_pos and table_pos
    assert max(schedule_pos) < min(table_pos)
    sample = blocks[0]
    assert sample.startswith("<http://") and sample.rstrip().endswith(".")
    assert "skos/core#Concept" in "".join(blocks)
    # language tags and typed dates render
    joined = "".join(blocks)
    assert '"@en' in joined or '"@nb' in joined
    assert "^^<http://www.w3.org/2001/XMLSchema#date>" in joined


def test_ndjson_lines_parse(ddc_triples):
    lines = [r["line"] for r in triples_to_ndjson(ddc_triples).collect()]
    assert lines
    obj = json.loads(lines[0])
    assert obj["uri"].startswith("http://")
    assert any(p.endswith("notation") for p in obj["preds"])


def test_jskos_concept_shape(spark, ddc_triples):
    from mc2skos_spark.sinks.jskos import triples_to_jskos
    lines = [json.loads(r["line"])
             for r in triples_to_jskos(ddc_triples).collect()]
    by_uri = {obj["uri"]: obj for obj in lines}
    concept = by_uri["http://dewey.info/class/001/e23/"]
    # ddc23no + ddc23de mint the same class URI → two language labels
    assert concept["prefLabel"]["nb"] == "Kunnskap"
    assert concept["prefLabel"]["de"] == "Wissen"
    assert concept["notation"] == ["001"]
    assert "ocd00116591" in concept["identifier"]  # + the de edition's id
    created = concept["created"]
    assert created == "2009-12-03" or "2009-12-03" in created
    assert {"uri": "http://dewey.info/class/00/e23/"} in concept["broader"]
    assert {"uri": "http://www.w3.org/2004/02/skos/core#Concept"} \
        in concept["type"]
    assert concept["@context"].startswith("https://gbv.github.io/jskos")
    # language-container note family
    assert isinstance(concept["scopeNote"]["nb"], list)
    # wd: extras keep full-URI keys (unmapped in the context)
    assert any(k.startswith("http://data.ub.uio.no/webdewey-terms#")
               for k in concept)

