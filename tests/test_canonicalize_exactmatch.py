"""Candidate sameAs edges for canonicalization: the degenerate-identifier
stop-key cap."""

import pytest

from mc2skos_spark.core import constants as C
from mc2skos_spark.operators.canonicalize import candidate_sameas_edges
from mc2skos_spark.plans import schemas

pytestmark = pytest.mark.spark


def triple(subj, pred, obj, lit=False):
    return (subj, pred, obj, lit, None, None, None, "r")


def test_max_ident_freq_drops_degenerate_identifier(spark):
    """The stop-key cap: an (ident, auth) group above max_ident_freq is
    a degenerate identifier (no identity signal, quadratic pair
    expansion invisible to AQE's byte-keyed skew detector) and is
    dropped from candidate generation; groups at or under the cap still
    join."""
    ident = C.DCTERMS + "identifier"
    rows = (
        # degenerate: 4 subjects share one control number
        [triple("http://ex/h%d" % i, ident, "HOT", lit=True)
         for i in range(4)]
        # legitimate: 2 subjects share another
        + [triple("http://ex/g1", ident, "OK", lit=True),
           triple("http://ex/g2", ident, "OK", lit=True)]
    )
    triples = spark.createDataFrame(rows, schema=schemas.TRIPLES)
    uncapped = {(r["src"], r["dst"]) for r in
                candidate_sameas_edges(triples).collect()}
    assert len(uncapped) == 6 + 1  # C(4,2) hot pairs + the OK pair
    capped = {(r["src"], r["dst"]) for r in
              candidate_sameas_edges(triples, max_ident_freq=3).collect()}
    assert capped == {("http://ex/g1", "http://ex/g2")}
