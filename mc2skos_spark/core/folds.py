"""Order-sensitive subfield folds and per-record decoders.

This module is pure Python over the dict record form and is the code the
Arrow-batch UDFs execute per record.  Every function re-expresses a
reference behavior (cited file:line into /root/reference) and is covered
by unit vectors ported verbatim from the reference test-suite:

* :func:`parse_008`        — test/test_process_record.py:22-155
* :func:`parse_153`        — test/test_153.py:10-183
* :func:`parse_765_components` — test/test_process_record.py:206-277
* :func:`stringify`        — test/test_stringify.py:13-77
* :func:`collect_terms`    — test/test_process_record.py:157-204,341-386
* :func:`scan_mappings`    — examples/gnd-1020118989.* behavior
"""

from __future__ import annotations

import re
from . import constants as C
from .dates import parse_yymmdd
from .marcxml import ess_codes, subfield_text
from .util import is_uri

_PUNCT_NO_SPACE_RE = re.compile(r"[.\?#@+,<>%~`!$^&\(\):;\]]")

# ISO 25964 mapping-relation codes → SKOS predicates
# (/root/reference/mc2skos/record.py:204-210).
ISO25964_RELATION = {
    "=EQ": C.SKOS + "exactMatch",
    "~EQ": C.SKOS + "closeMatch",
    "BM": C.SKOS + "broadMatch",
    "NM": C.SKOS + "narrowMatch",
    "RM": C.SKOS + "relatedMatch",
}

# ind2 of 7XX heading-linking fields → scheme code
# (/root/reference/mc2skos/record.py:222-231); '7' defers to $2.
IND2_SCHEME = {
    "0": "a",   # Library of Congress Subject Headings
    "1": "b",   # LC subject headings for children's literature
    "2": "c",   # Medical Subject Headings
    "3": "d",   # National Agricultural Library subject authority file
    "4": "n",   # Source not specified
    "5": "k",   # Canadian Subject Headings
    "6": "v",   # Répertoire de vedettes-matière
}

# X00..X62 suffixes of heading fields (/root/reference/mc2skos/record.py:73-84).
TERM_TAG_SUFFIXES = ("00", "10", "11", "30", "47", "48", "50", "51", "53",
                     "55", "62")


def parse_008_classification(value: str | None, warnings: list[str]):
    """Decode the classification 008 fixed field.

    Returns (created, record_type, number_type, display, synthesized,
    deprecated) with the exact branch structure of
    /root/reference/mc2skos/record.py:437-501, including the documented
    quirk that the "other information" display fallback tests position 7
    rather than 13 (record.py:493).  Unknown 008/6 and 008/13 values are
    surfaced on the ``warnings`` side-channel (the reference logs them,
    record.py:461,498) — such records fail the publish filter later, so
    without the warning they would vanish without a trace.
    """
    if value is None:
        return None, None, None, True, False, False

    created = parse_yymmdd(value[:6])

    record_type = {
        "a": C.SCHEDULE_RECORD,
        "b": C.TABLE_RECORD,
        "e": C.EXTERNAL_SUMMARY,
        "i": C.INTERNAL_SUMMARY_OF_SCHEDULE_NUMBER,
        "j": C.INTERNAL_SUMMARY_OF_TABLE_NUMBER,
        "m": C.MANUAL_NOTE_RECORD,
        "1": C.SCHEDULE_RECORD,  # undocumented, kept (record.py:458-459)
    }.get(value[6])
    if record_type is None:
        record_type = C.UNKNOWN
        warnings.append("unknown value in 008/6: %s" % value[6])

    number_type = {
        "a": C.SINGLE_NUMBER,
        "b": C.NUMBER_SPAN,
        "c": C.SUMMARY_NUMBER_SPAN,
    }.get(value[7], C.UNKNOWN)

    deprecated = value[8] in ("d", "e")
    synthesized = value[12] == "b"

    if value[13] in ("a", "b"):
        display = True          # standard or extended display
    elif value[13] == "h":
        display = False         # historical, hidden
    elif value[7] == "n":       # sic — the reference checks [7] here
        display = False
    else:
        display = False
        warnings.append("unknown value in 008/13: %s" % value[13])

    return created, record_type, number_type, display, synthesized, deprecated


def parse_153(subfields: list[dict]):
    """The 153 notation state machine.

    Input: ordered subfield dicts ``{"code","value"}``.  Returns
    (table, notation, is_top_concept, parent_notation, caption) exactly as
    /root/reference/mc2skos/record.py:503-572: ``$z`` table prefix,
    ``$y`` add-table marker (``1`` → ``:``, else ``:{y};`` on the child /
    ``;{y}:`` on the parent), ``$a``/``$c`` notation span, ``$e``/``$f``
    parent span (last ``$e`` wins, restarts the parent), ``$j`` caption,
    ``$h`` ⇒ not a top concept, and any other code flips mode to
    ``other`` which stops further ``$a``-``$f`` capture while still
    letting ``$z`` update the table.
    """
    table = None
    add_table = None
    notation = None
    parent_notation = None
    caption = None
    is_top_concept = True

    mode = "notation"
    for sf in subfields:
        code, value = sf["code"], sf["value"]
        if code == "z":
            table = value
        elif code == "y":
            add_table = value
        elif code == "a" and mode == "notation":
            if add_table == "1":
                notation += ":"
            elif add_table is not None:
                notation += ":%s;" % add_table
            elif table is not None:
                notation = "%s--" % table
            else:
                notation = ""
            notation += value
            add_table = None
        elif code == "c" and mode == "notation":
            notation += "-" + value
        elif code == "e" and mode in ("notation", "parent"):
            parent_notation = ""
            if add_table == "1":
                parent_notation += ":"
            elif add_table is not None:
                parent_notation += ";%s:" % add_table
            elif table is not None:
                parent_notation = "%s--" % table
            parent_notation += value
            add_table = None
            mode = "parent"
        elif code == "f" and mode == "parent":
            parent_notation += "-" + value
        elif code == "j":
            caption = value
        elif code == "h":
            is_top_concept = False
        else:
            mode = "other"

    if parent_notation is not None:
        is_top_concept = False

    return table, notation, is_top_concept, parent_notation, caption


def parse_765_components(fields_765: list[dict],
                         warnings: list[str]) -> list[str]:
    """Synthesized-number components fold over all 765 fields.

    Fields are iterated in *reverse* document order
    (/root/reference/mc2skos/record.py:406-435).  ``$b`` contributes the
    base number only while the component list is still empty; ``$r``
    carries the root, ``$z`` a pending ``{z}--`` table prefix, and each
    ``$s`` emits ``table + (root + s)`` with a ``.`` inserted after the
    third digit when longer than three.  Non-fatal anomalies (the blank
    ``$s`` the reference logs at record.py:427) are appended to the
    caller-supplied ``warnings`` side-channel.
    """
    components: list[str] = []
    for field in reversed(fields_765):
        table = ""
        rootno = ""
        for sf in field["subfields"]:
            code, value = sf["code"], sf["value"]
            if code == "b":
                if len(components) == 0:
                    components.append(table + (value or ""))
                    table = ""
            elif code == "r":
                rootno = value or ""
            elif code == "z":
                table = "{0}--".format(value)
            elif code == "s":
                if value is None:
                    warnings.append("blank 765 $s subfield")
                else:
                    tmp = rootno + value
                    if len(tmp) > 3:
                        tmp = tmp[:3] + "." + tmp[3:]
                    components.append(table + tmp)
                    table = ""
    return components


def stringify(field: dict, subfields: tuple[str, ...] = ("a", "c", "i", "t", "x")) -> str:
    """Fold a note field's subfields into one display string.

    /root/reference/mc2skos/element.py:77-98: ``$c`` closes a number span
    with ``-``; otherwise a space is inserted unless the value starts
    with a punctuation character.
    """
    wanted = set(subfields)
    label = ""
    for sf in field["subfields"]:
        if sf["code"] not in wanted:
            continue
        value = sf["value"]
        if value is None:
            continue
        if sf["code"] == "c":
            value = "-" + value
        elif len(label) != 0 and not _PUNCT_NO_SPACE_RE.match(value[0]):
            value = " " + value
        label += value
    return label


def assemble_heading_label(field: dict) -> str:
    """Fold a heading field (X00..X62) into a term label.

    /root/reference/mc2skos/record.py:89-103: subfields a/d/x/y/z/v in
    document order; ``$d`` is parenthesized unless the label already ends
    with ``,``/``;``; ``$x/y/z/v`` are joined with ``--``.
    """
    wanted = ("a", "d", "x", "y", "z", "v")
    value = ""
    for sf in field["subfields"]:
        if sf["code"] not in wanted:
            continue
        text = sf["value"]
        if text is None:
            # reduce() in the reference would concatenate None and crash;
            # fixture data never exercises it — treat as empty.
            text = ""
        prefix, suffix = " ", ""
        if value == "":
            prefix = ""
        elif sf["code"] == "d" and value[-1] not in (",", ";"):
            prefix, suffix = " (", ")"
        elif sf["code"] in ("x", "y", "z", "v"):
            prefix = "--"
        value = value + prefix + text + suffix
    return value


def collect_terms(rec: dict, base: str) -> list[dict]:
    """All heading terms for 1XX/4XX/5XX/7XX with caption-first ordering.

    /root/reference/mc2skos/record.py:72-127: a term whose field carries
    ``ess=isCaption`` is moved to the head of the list.
    """
    tags = {base + suffix for suffix in TERM_TAG_SUFFIXES}
    terms: list[dict] = []
    for field in rec["datafields"]:
        if field["tag"] not in tags:
            continue
        term = {
            "value": assemble_heading_label(field),
            "field": field,
        }
        if "isCaption" in ess_codes(field):
            terms.insert(0, term)
        else:
            terms.append(term)
    return terms


def scan_mappings(rec: dict) -> list[dict]:
    """Candidate mapping edges from 024 and 7XX heading links.

    Returns dicts of two kinds:

    * ``{"uri": ..., "relation": ...}`` — a directly usable edge;
    * ``{"scheme_code": ..., "relation": ..., "control_number": ...,
      "tag": ...}`` — needs scheme resolution + URI minting.

    Reproduces /root/reference/mc2skos/record.py:183-238: 024 pairs
    ``$a``/``$2`` (skipping ``$2='uri'``) as exactMatch candidates; 7XX
    scans subfields in document order where ``$4`` (URI or ISO-25964
    code) sets the relation for subsequent ``$0``/``$1`` targets,
    defaulting to closeMatch, and non-URI targets resolve their scheme
    from ind2 (``7`` → ``$2``).
    """
    out: list[dict] = []

    for field in rec["datafields"]:
        if field["tag"] != "024":
            continue
        control_number = subfield_text(field, "a")
        scheme_code = subfield_text(field, "2")
        if scheme_code != "uri":
            out.append({
                "scheme_code": scheme_code,
                "relation": C.SKOS + "exactMatch",
                "control_number": control_number,
                "tag": "024",
            })

    for term in collect_terms(rec, "7"):
        field = term["field"]
        relation = None
        for sf in field["subfields"]:
            code, value = sf["code"], sf["value"]
            if code == "4":
                if value is not None and is_uri(value):
                    relation = value
                else:
                    relation = ISO25964_RELATION.get(value)
            elif code in ("0", "1"):
                relation = relation if relation else C.SKOS + "closeMatch"
                if value is not None and is_uri(value):
                    out.append({"uri": value, "relation": relation})
                else:
                    ind2 = field["ind2"]
                    if ind2 == "7":
                        scheme_code = subfield_text(field, "2")
                    else:
                        scheme_code = IND2_SCHEME.get(ind2)
                    out.append({
                        "scheme_code": scheme_code,
                        "relation": relation,
                        "control_number": value,
                        "tag": field["tag"],
                    })
    return out
