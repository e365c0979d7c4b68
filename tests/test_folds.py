"""Operator unit tests — vectors ported verbatim from the reference suite.

153 state machine: /root/reference/test/test_153.py:10-183
stringify:         /root/reference/test/test_stringify.py:13-77
765 components:    /root/reference/test/test_process_record.py:206-277
008 decode:        /root/reference/test/test_process_record.py:22-155
"""

import pytest

from mc2skos_spark.core import constants as C
from mc2skos_spark.core.folds import (parse_008_classification, parse_153,
                                      parse_765_components, stringify)
from mc2skos_spark.core.marcxml import parse_record_xml


def field_from_xml(xml):
    rec = parse_record_xml("<record xmlns='http://www.loc.gov/MARC21/slim'>"
                           + xml + "</record>")
    return rec["datafields"][0]


def sf(code, value):
    return {"code": code, "value": value, "has_text": True}


# ---------------------------------------------------------------- parse_153

CASE_SIMPLE = [sf("a", "003.5"), sf("e", "003"), sf("h", "Generalities"),
               sf("h", "Systems"), sf("j", "Theory of communication and control")]

CASE_TABLE_ADD_TABLE = [
    sf("z", "3B"), sf("a", "81"), sf("c", "89"), sf("y", "1"), sf("a", "02"),
    sf("z", "3B"), sf("e", "81"), sf("f", "89"),
    sf("j", "Anekdoter, epigrammer, graffiti, vitser, vittigheter, sitater, "
            "gåter, tungekrøllere"),
    sf("9", "ess=ren"), sf("9", "ess=reh")]

CASE_ADD_TABLE = [
    sf("a", "820.1"), sf("c", "828"), sf("y", "4"), sf("a", "1"),
    sf("e", "820"), sf("j", "Early period to 1858"),
    sf("9", "ess=reb"), sf("9", "ess=rhb")]

CASE_TABLE_OLD_STYLE = [
    sf("z", "6"), sf("a", "9839"), sf("h", "Languages"),
    sf("h", "Other languages"), sf("h", "South American native languages"),
    sf("h", "Quechuan (Kechuan), Aymaran, Tucanoan, Tupí, Arawakan languages"),
    sf("j", "Arawakan languages")]

CASE_COMPLEX_UNDOCUMENTED = [
    sf("z", "1"), sf("a", "0926"), sf("z", "1"), sf("e", "0923"),
    sf("f", "0928"),
    sf("j", "Samlingsbiografier om personer inndelt etter diverse sosiale "
            "kjennetegn"),
    sf("i", "[tidligere"), sf("z", "1"), sf("x", "0922"), sf("i", ","),
    sf("z", "1"), sf("x", "0923"), sf("i", "]"),
    sf("9", "ess=ten"), sf("9", "ess=eh"), sf("9", "ess=nrl")]

CASE_STANDARD_SUBDIV = [sf("a", "973"), sf("9", "ess=si1")]

CASE_SYNTHESIZED = [sf("a", "001.4092"), sf("e", "001.4"), sf("9", "ess=ien")]

CASE_EXTRA_SUBFIELDS = [
    sf("a", "332.0240081"), sf("c", "332.0240088"), sf("e", "332.024001"),
    sf("f", "332.024009"), sf("j", "Miscellaneous specific kinds of persons"),
    sf("i", "[formerly"), sf("x", "332.02404"), sf("c", "332.0249"),
    sf("i", "]"), sf("9", "ess=en"), sf("9", "ess=eh"), sf("9", "ess=nrl")]


@pytest.mark.parametrize("subfields,expected", [
    (CASE_SIMPLE, (None, "003.5", False, "003",
                   "Theory of communication and control")),
    (CASE_TABLE_ADD_TABLE, ("3B", "3B--81-89:02", False, "3B--81-89",
                            "Anekdoter, epigrammer, graffiti, vitser, "
                            "vittigheter, sitater, gåter, tungekrøllere")),
    (CASE_ADD_TABLE, (None, "820.1-828:4;1", False, "820",
                      "Early period to 1858")),
    (CASE_TABLE_OLD_STYLE, ("6", "6--9839", False, None, "Arawakan languages")),
    (CASE_COMPLEX_UNDOCUMENTED, ("1", "1--0926", False, "1--0923-0928",
                                 "Samlingsbiografier om personer inndelt "
                                 "etter diverse sosiale kjennetegn")),
    (CASE_STANDARD_SUBDIV, (None, "973", True, None, None)),
    (CASE_SYNTHESIZED, (None, "001.4092", False, "001.4", None)),
    (CASE_EXTRA_SUBFIELDS, (None, "332.0240081-332.0240088", False,
                            "332.024001-332.024009",
                            "Miscellaneous specific kinds of persons")),
])
def test_parse_153(subfields, expected):
    table, notation, is_top, parent, caption = parse_153(subfields)
    assert (table, notation, is_top, parent, caption) == expected


# ---------------------------------------------------------------- stringify

def test_stringify_see_note():
    field = {"subfields": [sf("t", "Vitenskap og lærdom"), sf("i", ", se"),
                           sf("a", "001.2"), sf("9", "ess=nse")]}
    assert stringify(field) == "Vitenskap og lærdom, se 001.2"


def test_stringify_see_also_note():
    field = {"subfields": [
        sf("i", "Se også"), sf("a", "900"), sf("i", "for en"),
        sf("t", "bred beskrivelse av situasjon og vilkår for intellektuell "
                "virksomhet"),
        sf("9", "ess=nsa")]}
    assert stringify(field) == ("Se også 900 for en bred beskrivelse av "
                                "situasjon og vilkår for intellektuell "
                                "virksomhet")


def test_stringify_class_number_range():
    field = {"subfields": [
        sf("i", "Klassifiser"), sf("t", "andre bestemte internasjonale språk"),
        sf("i", "med språket i"), sf("a", "420"), sf("c", "490"),
        sf("i", ", f.eks."), sf("t", "latin som et diplomatspråk"),
        sf("e", "470"), sf("i", ","),
        sf("t", "swahili som et lingua franca"), sf("e", "496.392"),
        sf("9", "ess=ncw")]}
    assert stringify(field) == ("Klassifiser andre bestemte internasjonale "
                                "språk med språket i 420-490, f.eks. latin "
                                "som et diplomatspråk, swahili som et lingua "
                                "franca")


def test_stringify_complex_note():
    field = {"subfields": [
        sf("i", "Inkluderer:"), sf("t", "Case-studier"), sf("i", "[tidligere"),
        sf("x", "001.432"), sf("i", "];"), sf("t", "utvalgsteknikker"),
        sf("i", ";"), sf("t", "rundspørringer"), sf("i", ","),
        sf("t", "spørreskjemaer"), sf("i", ","), sf("t", "feltarbeid"),
        sf("i", ","), sf("t", "deltakende observasjon"), sf("i", ","),
        sf("t", "intervjuer"), sf("9", "ess=nin")]}
    assert stringify(field) == ("Inkluderer: Case-studier [tidligere 001.432]"
                                "; utvalgsteknikker; rundspørringer, "
                                "spørreskjemaer, feltarbeid, deltakende "
                                "observasjon, intervjuer")


# ------------------------------------------------------------ 765 components

def test_765_components_root_carry():
    # test_process_record.py:206-235
    fields = [{"subfields": [
        sf("b", "306.6"), sf("a", "306.63"), sf("c", "306.69"),
        sf("r", "2"), sf("s", "804"), sf("u", "306.6804"),
        sf("9", "ess=hn")]}]
    assert parse_765_components(fields, []) == ["306.6", "280.4"]


def test_765_components_reversed_with_table():
    # test_process_record.py:237-277
    fields = [
        {"subfields": [sf("b", "299.31"), sf("a", "299.31"), sf("a", "290"),
                       sf("w", "290"), sf("y", "1"), sf("a", "1"),
                       sf("c", "9"), sf("r", "20"), sf("s", "13"),
                       sf("u", "299.3113")]},
        {"subfields": [sf("b", "299"), sf("a", "299.1"), sf("c", "299.4"),
                       sf("z", "5"), sf("r", "9"), sf("s", "31"),
                       sf("u", "299.31")]},
    ]
    assert parse_765_components(fields, []) == ["299", "5--931", "201.3"]


def test_765_blank_s_surfaces_warning():
    """A blank $s is skipped but the anomaly must reach the caller's
    warning side-channel (the reference logs it, record.py:427)."""
    fields = [{"subfields": [sf("b", "306.6"), sf("r", "2"),
                             sf("s", None), sf("s", "804")]}]
    warnings: list[str] = []
    assert parse_765_components(fields, warnings) == ["306.6", "280.4"]
    assert warnings == ["blank 765 $s subfield"]


# ------------------------------------------------------------------ 008 decode

@pytest.mark.parametrize("value,expected", [
    # (record_type, number_type, display, synthesized, deprecated)
    ("091203aaaaaaaa", (C.SCHEDULE_RECORD, C.SINGLE_NUMBER, True, False, False)),
    ("100414baabaaaa", (C.TABLE_RECORD, C.SINGLE_NUMBER, True, False, False)),
    ("091203baaaaaah", (C.TABLE_RECORD, C.SINGLE_NUMBER, False, False, False)),
    ("091203abdaaaba", (C.SCHEDULE_RECORD, C.NUMBER_SPAN, True, True, True)),
    ("091203aaaaaabb", (C.SCHEDULE_RECORD, C.SINGLE_NUMBER, True, True, False)),
])
def test_parse_008(value, expected):
    created, record_type, number_type, display, synthesized, deprecated = \
        parse_008_classification(value, [])
    assert (record_type, number_type, display, synthesized, deprecated) == expected
    assert created is not None


def test_parse_008_missing():
    assert parse_008_classification(None, []) == (None, None, None, True, False, False)


def test_parse_008_dates():
    created, *_ = parse_008_classification("091203aaaaaaaa", [])
    assert created.strftime("%Y-%m-%d") == "2009-12-03"


# -------------------------------------------------------- xml-driven parity

def test_153_from_xml_matches_dict_path():
    field = field_from_xml('''
        <datafield tag="153" ind2=" " ind1=" ">
            <subfield code="z">3B</subfield>
            <subfield code="a">81</subfield>
            <subfield code="c">89</subfield>
            <subfield code="y">1</subfield>
            <subfield code="a">02</subfield>
            <subfield code="z">3B</subfield>
            <subfield code="e">81</subfield>
            <subfield code="f">89</subfield>
            <subfield code="j">x</subfield>
        </datafield>''')
    table, notation, is_top, parent, caption = parse_153(field["subfields"])
    assert (table, notation, parent) == ("3B", "3B--81-89:02", "3B--81-89")
