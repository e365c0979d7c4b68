"""JSKOS sink (S5): one JSKOS concept object per subject.

Key mapping follows the reference's JSON-LD frame
(/root/reference/mc2skos/jskos-context.json:1-177, applied in
/root/reference/mc2skos/mc2skos.py:348-358):

* ``@language`` containers → ``prefLabel`` is ``{lang: value}``, the
  note/label families are ``{lang: [values, ...]}``;
* ``@set`` containers → arrays (``notation``, ``identifier``,
  ``broader``/``related``/… as arrays of ``{"uri": …}`` objects);
* ``memberList`` (mads:componentList) → ordered ``@list`` of
  ``{"uri": …}`` reconstructed from the positional rows;
* ``created``/``modified`` → plain date strings;
* predicates outside the context (owl:deprecated, the skos *Match
  family, wd: extras) keep their full-URI key, matching how a JSON-LD
  serializer passes unmapped terms through.

Shape: one JVM-side groupBy(subj) collecting (pred, obj, …) structs,
then an Arrow-batch formatter producing NDJSON lines — the Python cost
is one json.dumps per *concept*, not per triple.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..core import constants as C

JSKOS_CONTEXT_URL = "https://gbv.github.io/jskos/context.json"

_LANGUAGE_SINGLE = {C.SKOS + "prefLabel": "prefLabel"}
_LANGUAGE_MULTI = {
    C.SKOS + "altLabel": "altLabel",
    C.SKOS + "hiddenLabel": "hiddenLabel",
    C.SKOS + "scopeNote": "scopeNote",
    C.SKOS + "definition": "definition",
    C.SKOS + "example": "example",
    C.SKOS + "historyNote": "historyNote",
    C.SKOS + "editorialNote": "editorialNote",
    C.SKOS + "changeNote": "changeNote",
    C.SKOS + "note": "note",
}
_URI_SETS = {
    C.RDF + "type": "type",
    C.SKOS + "narrower": "narrower",
    C.SKOS + "broader": "broader",
    C.SKOS + "related": "related",
    C.SKOS + "inScheme": "inScheme",
    C.SKOS + "topConceptOf": "topConceptOf",
    C.SKOS + "hasTopConcept": "topConcepts",
}
_LITERAL_SETS = {
    C.SKOS + "notation": "notation",
    C.DCTERMS + "identifier": "identifier",
}
_SCALARS = {
    C.DCTERMS + "created": "created",
    C.DCTERMS + "modified": "modified",
}
_MEMBER_LIST = C.MADS + "componentList"


def _concept_object(uri: str, rows: list) -> dict:
    obj: dict = {"uri": uri}
    members: list = []
    for pred, value, is_literal, lang, datatype, pos in rows:
        if pred == _MEMBER_LIST:
            members.append((pos if pos is not None else 0, value))
        elif pred in _SCALARS:
            key = _SCALARS[pred]
            if key in obj and obj[key] != value:
                # distinct values for a scalar term (e.g. two language
                # editions minting one URI) → value array, like a
                # JSON-LD serializer would emit
                prior = obj[key] if isinstance(obj[key], list) else [obj[key]]
                obj[key] = sorted({*prior, value})
            else:
                obj[key] = value
        elif pred in _LANGUAGE_SINGLE:
            # JSKOS allows ONE prefLabel per language; after
            # canonicalization merges two URIs a language can carry two
            # distinct values, and collect_list order is nondeterministic
            # — resolve the collision by deterministic min, like the
            # _SCALARS promotion rule above.
            langs = obj.setdefault(_LANGUAGE_SINGLE[pred], {})
            lkey = lang or "und"
            langs[lkey] = (value if lkey not in langs
                           else min(langs[lkey], value))
        elif pred in _LANGUAGE_MULTI:
            key = _LANGUAGE_MULTI[pred]
            obj.setdefault(key, {}).setdefault(lang or "und", []).append(value)
        elif pred in _URI_SETS:
            obj.setdefault(_URI_SETS[pred], []).append({"uri": value})
        elif pred in _LITERAL_SETS:
            obj.setdefault(_LITERAL_SETS[pred], []).append(value)
        elif not is_literal:
            obj.setdefault(pred, []).append({"uri": value})
        elif datatype == C.XSD + "boolean":
            # conflicting booleans after a URI merge resolve by AND —
            # commutative, so the result is independent of collect_list
            # order (false wins deterministically)
            obj[pred] = (value == "true") and obj.get(pred, True)
        else:
            # unmapped literal predicate: repeated values must ALL
            # survive (collect_list order is nondeterministic, so a
            # scalar overwrite would keep an arbitrary one) — promote
            # to a sorted value array on the second distinct value,
            # like a JSON-LD serializer's repeated-property output
            if pred in obj and obj[pred] != value:
                prior = obj[pred] if isinstance(obj[pred], list) \
                    else [obj[pred]]
                obj[pred] = sorted({*prior, value})
            else:
                obj[pred] = value
    if members:
        obj["memberList"] = [{"uri": value}
                             for _, value in sorted(members)]
    # deterministic inner ordering for set/language containers
    for key, val in obj.items():
        if isinstance(val, list) and val and isinstance(val[0], dict) \
                and key != "memberList":
            obj[key] = sorted(val, key=lambda d: d["uri"])
        elif isinstance(val, dict):
            obj[key] = {k: (sorted(v) if isinstance(v, list) else v)
                        for k, v in sorted(val.items())}
        elif isinstance(val, list) and key != "memberList":
            obj[key] = sorted(val)
    return obj


def triples_to_jskos(triples: DataFrame,
                     ndjson: bool = True) -> DataFrame:
    """One JSKOS JSON line per concept (ndjson mode adds @context per
    line, mirroring mc2skos.py:356-358)."""
    grouped = (triples.groupBy("subj")
               .agg(F.collect_list(F.struct(
                   "pred", "obj", "obj_is_literal", "obj_lang",
                   "obj_datatype", "component_pos")).alias("rows")))

    def fmt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            lines = []
            for subj, rows in zip(batch["subj"], batch["rows"]):
                # arrow structs arrive as dicts in pandas
                obj = _concept_object(subj, [
                    (r["pred"], r["obj"], r["obj_is_literal"],
                     r["obj_lang"], r["obj_datatype"], r["component_pos"])
                    for r in rows])
                if ndjson:
                    obj["@context"] = JSKOS_CONTEXT_URL
                lines.append(json.dumps(obj, sort_keys=True,
                                        ensure_ascii=False))
            yield pd.DataFrame({"line": lines})

    return grouped.mapInPandas(
        fmt, schema=T.StructType([T.StructField("line", T.StringType())]))
