"""Spark-free library surface (core/api.py): process_record /
process_records parity with the reference's public entry points
(mc2skos.py:157-203).  No JVM in this file."""

import pytest

from mc2skos_spark.core.api import process_record, process_records
from mc2skos_spark.core.errors import InvalidRecordError
from mc2skos_spark.core.turtle import parse_turtle_file, precision_recall

from .golden import golden_cases

CASES = {c[0]: c for c in golden_cases()}


def _record_xmls(xml_path):
    """Per-record serialized XML strings (namespace-safe re-serialization
    — the same fixture path the KG pipeline stages consume)."""
    import os

    from mc2skos_spark.sources.synth import fixture_records
    stem = os.path.splitext(os.path.basename(xml_path))[0]
    return [xml for s, xml in fixture_records() if s == stem]


def test_process_records_matches_golden_turtle():
    name, xml_path, ttl_path, options, default_scheme = CASES["ddc23no-001"]
    rows = process_records(_record_xmls(xml_path), options,
                           default_scheme=default_scheme)
    precision, recall, missing, extra = precision_recall(
        rows, parse_turtle_file(ttl_path))
    assert (precision, recall) == (1.0, 1.0), (missing, extra)


def test_process_record_raises_on_invalid():
    with pytest.raises(InvalidRecordError):
        process_record("<record><leader>x</leader></record>")


def test_process_records_warns_and_skips_invalid(caplog):
    name, xml_path, ttl_path, options, default_scheme = CASES["ddc23no-001"]
    xmls = ["<record><datafield tag='999'/></record>"] + \
        _record_xmls(xml_path)
    import logging
    with caplog.at_level(logging.WARNING, "mc2skos_spark.core.api"):
        rows = process_records(xmls, options,
                               default_scheme=default_scheme)
    assert any("Ignoring record" in r.message for r in caplog.records)
    assert rows == process_records(_record_xmls(xml_path), options,
                                   default_scheme=default_scheme)


@pytest.mark.spark
def test_expand_parity_with_dataframe_path(spark):
    """core/api expand=True must produce the same triple set as the
    DataFrame expand_inferred over the same corpus."""
    from pyspark.sql import functions as F

    from mc2skos_spark.operators.expand import expand_inferred
    from mc2skos_spark.operators.extract import (extract_triples,
                                                 triples_from_extracted)
    from mc2skos_spark.plans import schemas
    from mc2skos_spark.sources.synth import (make_transcript_rows,
                                             synth_marc_records)
    from mc2skos_spark.sources.transcripts import reassemble_records

    records = synth_marc_records(40, seed=33)
    rows = make_transcript_rows(records, seed=34)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    expanded = expand_inferred(triples_from_extracted(
        extract_triples(reassemble_records(df))))
    spark_rows = {tuple(r)[:7] for r in expanded
                  .select("subj", "pred", "obj", "obj_is_literal",
                          "obj_lang", "obj_datatype", "component_pos")
                  .collect()}
    py_rows = set(process_records([xml for _, xml in records],
                                  expand=True))
    assert py_rows == spark_rows