"""Spark-free library surface — `process_record` / `process_records`
parity (/root/reference/mc2skos/mc2skos.py:157-203).

The reference's two public library entry points take serialized
MARCXML and return graph triples; here they return plain triple-row
tuples so a library user (or a unit test) gets the exact semantics the
Spark pipeline applies per Arrow batch, with no JVM anywhere.  The
DataFrame pipeline (`operators/extract.py`, `operators/expand.py`)
wraps the same underlying functions — these wrappers exist so the
reference's `process_record(s)` call sites can switch one-for-one.
"""

from __future__ import annotations

import logging

from .constants import SKOS_INVERSES
from .errors import InvalidRecordError
from .extract import extract_concept
from .marcxml import parse_record_xml
from .triples import concept_to_triples
from .vocab import Vocabularies

logger = logging.getLogger(__name__)

# triple-row tuple layout shared with plans/schemas.py TRIPLES (minus
# record_id): (subj, pred, obj, obj_is_literal, obj_lang, obj_datatype,
# component_pos)


def build_vocabularies(default_scheme=None) -> Vocabularies:
    """Registry with the optional CLI-style default-scheme override
    (``--uri``/``--scheme``/``--whitespace`` dict, or a scheme code)."""
    vocabularies = Vocabularies()
    if default_scheme:
        if isinstance(default_scheme, dict):
            vocabularies.set_default_scheme(**default_scheme)
        else:
            vocabularies.set_default_scheme(scheme=default_scheme)
    return vocabularies


def process_record(xml: str, options: dict | None = None,
                   vocabularies: Vocabularies | None = None) -> list[tuple]:
    """One serialized MARCXML record → its triple rows (unsorted,
    per-record set semantics applied).  Raises
    :class:`InvalidRecordError` for records the reference rejects —
    `process_records` (and the Spark quarantine path) warn-and-skip.

    Reference: ``process_record(graph, record, **options)``
    (mc2skos.py:157-177)."""
    options = options or {}
    if vocabularies is None:
        vocabularies = build_vocabularies()
    bag = extract_concept(parse_record_xml(xml), vocabularies, options)
    if bag is None or not bag["is_public"]:
        # skip flags / publish filter (P2/P3): the reference's
        # process_record emits nothing for these
        return []
    return list(dict.fromkeys(concept_to_triples(bag, options)))


def process_records(xmls, options: dict | None = None,
                    default_scheme=None,
                    expand: bool = False) -> list[tuple]:
    """Iterable of serialized MARCXML records → sorted, deduplicated
    triple rows.  Invalid records are warned and skipped (the
    reference's loop, mc2skos.py:183-190); ``expand=True`` applies the
    G2 inverse-edge inference exactly as `operators/expand.py` does on
    DataFrames (same SKOS_INVERSES map — parity tested)."""
    options = options or {}
    vocabularies = build_vocabularies(default_scheme)
    triples: set[tuple] = set()
    for n, xml in enumerate(xmls, start=1):
        try:
            triples.update(process_record(xml, options,
                                          vocabularies=vocabularies))
        except InvalidRecordError as exc:
            record_id = exc.control_number or "#%d" % n
            logger.warning("Ignoring record %s: %s", record_id, exc)
    if expand:
        for subj, pred, obj, is_lit, _lang, _dt, _pos in list(triples):
            if not is_lit and pred in SKOS_INVERSES:
                triples.add((obj, SKOS_INVERSES[pred], subj,
                             False, None, None, None))
    return sorted(triples, key=lambda r: tuple(str(x) if x is not None
                                               else "" for x in r))
