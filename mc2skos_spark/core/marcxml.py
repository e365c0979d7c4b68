"""MARCXML → plain-dict record structure (stdlib ElementTree, PI-aware).

Reference behavior being reproduced (not ported):

* namespace ``http://www.loc.gov/MARC21/slim`` with element kinds
  ``leader`` / ``controlfield[@tag]`` / ``datafield[@tag,@ind1,@ind2]`` /
  ``subfield[@code]`` (/root/reference/mc2skos/element.py:10-13);
* text flattening that strips ``<?ddc …?>`` processing instructions by
  concatenating PI *tails* and discarding the element's leading text when
  PI children are present (/root/reference/mc2skos/element.py:40-61 — the
  lxml tree keeps PIs as child nodes; we ask ElementTree to do the same
  via ``TreeBuilder(insert_pis=True)``);
* subfield *document order* is preserved — it is semantically load-bearing
  for the 153 state machine, the 765 component fold and the "$4 before $0"
  mapping rule (/root/reference/mc2skos/record.py:503-572,406-435,183-238).

The output shape matches SURVEY.md §1a:

.. code-block:: python

    {
      "leader": str | None,
      "controlfields": [{"tag": str, "value": str | None}, ...],
      "datafields": [
         {"tag": str, "ind1": str | None, "ind2": str | None,
          "subfields": [{"code": str, "value": str | None,
                         "has_text": bool}, ...]},
      ],
    }

``has_text`` records whether the raw ``.text`` of the subfield node was
non-None: the reference's ``Element.text(xpath, all=True)`` filters on
that (/root/reference/mc2skos/element.py:66), which matters only for
PI-led subfields but is preserved for exactness.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Any

MARC_NS = "http://www.loc.gov/MARC21/slim"


def _localname(tag: Any) -> str | None:
    """Strip the namespace from an ElementTree tag; None for PI/comment nodes."""
    if not isinstance(tag, str):
        return None
    if tag.startswith("{"):
        return tag.rpartition("}")[2]
    return tag


def _flatten_text(node: ET.Element) -> str | None:
    """Text of a node with PI children stripped.

    Mirrors /root/reference/mc2skos/element.py:40-61: when child nodes
    exist, concatenate their tails (dropping the node's own leading
    text — a quirk of the reference we keep); otherwise return ``.text``.
    """
    children = list(node)
    if children:
        value = ""
        for child in children:
            if child.tail is not None:
                value += child.tail
        return value
    return node.text


def _tree_builder() -> ET.TreeBuilder:
    # insert_pis/insert_comments keep PIs AND comments as child nodes so
    # _flatten_text sees the same tree shape the reference's lxml parse
    # produces (a comment inside subfield text must drop the leading
    # text exactly like a PI does — element.py:52-60).
    return ET.TreeBuilder(insert_pis=True, insert_comments=True)


def _parse_xml(xml_string: str) -> ET.Element:
    return ET.fromstring(xml_string, parser=ET.XMLParser(target=_tree_builder()))


def parse_record_xml(xml_string: str) -> dict:
    """Parse one MARCXML ``<record>`` element string into the dict form."""
    root = _parse_xml(xml_string)
    if _localname(root.tag) != "record":
        # Accept a wrapping collection with a SINGLE record inside;
        # silently keeping only the first of several would be data loss.
        records = [c for c in root if _localname(c.tag) == "record"]
        if len(records) != 1:
            raise ValueError(
                "expected one <record>, found %d inside <%s> — split "
                "multi-record files with records_in_xml_file"
                % (len(records), root.tag))
        root = records[0]
    return record_element_to_dict(root)


def record_element_to_dict(root: ET.Element) -> dict:
    leader = None
    controlfields: list[dict] = []
    datafields: list[dict] = []

    for child in root:
        name = _localname(child.tag)
        if name == "leader":
            if leader is None:
                leader = _flatten_text(child)
        elif name == "controlfield":
            controlfields.append({
                "tag": child.get("tag"),
                "value": _flatten_text(child),
            })
        elif name == "datafield":
            subfields = []
            for sf in child:
                if _localname(sf.tag) != "subfield":
                    continue
                # raw text nodes (leading text + child tails) mirror
                # lxml's subfield/text() — get_ess_codes inspects each
                # node separately (element.py:70-71)
                text_nodes = [t for t in
                              [sf.text] + [c.tail for c in sf]
                              if t is not None]
                subfields.append({
                    "code": sf.get("code"),
                    "value": _flatten_text(sf),
                    "has_text": sf.text is not None,
                    "text_nodes": text_nodes,
                })
            datafields.append({
                "tag": child.get("tag"),
                "ind1": child.get("ind1"),
                "ind2": child.get("ind2"),
                "subfields": subfields,
            })
    return {
        "leader": leader,
        "controlfields": controlfields,
        "datafields": datafields,
    }


# --------------------------------------------------------------------------
# Accessors over the dict form (the xpath-projection analogs, SURVEY.md P4)
# --------------------------------------------------------------------------

def controlfield(rec: dict, tag: str) -> str | None:
    """Text of the first controlfield with the tag (element.py:34-38,67-68)."""
    for cf in rec["controlfields"]:
        if cf["tag"] == tag:
            return cf["value"]
    return None


def datafields(rec: dict, *tags: str) -> list[dict]:
    """All datafields matching any of the tags, in document order."""
    wanted = set(tags)
    return [df for df in rec["datafields"] if df["tag"] in wanted]


def first_datafield(rec: dict, tag: str) -> dict | None:
    for df in rec["datafields"]:
        if df["tag"] == tag:
            return df
    return None


def subfield_text(field: dict, code: str) -> str | None:
    """Flattened text of the first matching subfield, or None."""
    for sf in field["subfields"]:
        if sf["code"] == code:
            return sf["value"]
    return None


def subfield_texts(field: dict, code: str) -> list[str]:
    """All matching subfield texts where the raw text node was present.

    Mirrors ``Element.text(xpath, all=True)``'s ``.text is not None``
    filter (/root/reference/mc2skos/element.py:66).
    """
    return [sf["value"] for sf in field["subfields"]
            if sf["code"] == code and sf.get("has_text", True)]


def datafield_subfield_text(rec: dict, tag: str, code: str) -> str | None:
    """Text of the first ``tag $code`` subfield across the record.

    Matches the reference xpath ``mx:datafield[@tag="X"]/mx:subfield
    [@code="y"]`` first-match semantics: the first matching *subfield* in
    document order, even if the first matching datafield lacks the code.
    """
    for df in rec["datafields"]:
        if df["tag"] == tag:
            value = subfield_text(df, code)
            if value is not None:
                return value
            # xpath would continue to later fields only if this field had
            # no matching subfield node at all; a present-but-empty node
            # returns its (None) text.  Distinguish the two:
            if any(sf["code"] == code for sf in df["subfields"]):
                return None
    return None


def ess_codes(field: dict) -> list[str]:
    """``$9`` subfields of the form ``ess=X`` → ``X`` (element.py:70-71).

    The reference xpaths ``subfield/text()`` — every raw text NODE is
    tested for the ``ess=`` prefix separately (a PI/comment splits the
    text into several nodes), not the flattened value.  Hand-built test
    dicts without ``text_nodes`` fall back to the flattened value.
    """
    out = []
    for sf in field["subfields"]:
        if sf["code"] != "9":
            continue
        nodes = sf.get("text_nodes")
        if nodes is None:
            nodes = [sf["value"]] if sf["value"] is not None else []
        for node in nodes:
            if node.startswith("ess="):
                out.append(node[4:])
    return out
