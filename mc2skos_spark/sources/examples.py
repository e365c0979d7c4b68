"""Reference example corpus: per-family conversion flags + record XML.

The reference ships 36 XML↔Turtle golden pairs under
/root/reference/examples; its own test harness converts each family
with specific flags (/root/reference/test/test_process_examples.py:
49-117 — ddc → webdewey, bk/asb/rvk → altlabels, authority families →
altlabels, gnd additionally pinning the default scheme per issue #56).
This module centralizes that mapping for both the pytest goldens and
the driver-oracle query that runs the REAL extraction pipeline over the
example records (``__spark_entry__.kg_golden_triples``).
"""

from __future__ import annotations

import glob
import os
import re

EXAMPLES_DIR = os.environ.get("MC2SKOS_EXAMPLES_DIR",
                              "/root/reference/examples")

FAMILIES = [
    (r"ddc\d{2}[a-z]+-.*", {"include_webdewey": True}, None),
    (r"(bk|asb)-.*", {"include_altlabels": True}, None),
    (r"rvk(-.*)?", {"include_altlabels": True}, None),
    (r"(lcgft|lcsh|noubomn|noubojur|humord|nalt)-.*",
     {"include_altlabels": True}, None),
    (r"gnd-.*", {"include_altlabels": True}, "gnd"),
]


def golden_cases() -> list[tuple]:
    """(stem, xml_path, ttl_path, options, default_scheme) per pair."""
    cases = []
    for xml_path in sorted(glob.glob(os.path.join(EXAMPLES_DIR, "*.xml"))):
        stem = os.path.splitext(os.path.basename(xml_path))[0]
        ttl_path = os.path.splitext(xml_path)[0] + ".ttl"
        if not os.path.isfile(ttl_path):
            continue
        for pattern, options, default_scheme in FAMILIES:
            if re.fullmatch(pattern, stem):
                cases.append((stem, xml_path, ttl_path, dict(options),
                              default_scheme))
                break
    return cases


def golden_record_families(
        exclude: set[str] | frozenset[str] = frozenset()) -> list[tuple]:
    """Group the example records by conversion-flag family.

    Returns ``[(options, default_scheme, [(stem, record_xml), ...]), …]``
    — the shape the KG pipeline consumes (one extraction run per flag
    set).  ``exclude`` drops stems whose goldens are known-stale
    (``rvk``: predates the reference's 7XX→gnd mapping support).
    """
    from .synth import fixture_records

    by_stem = {}
    for stem, xml in fixture_records():
        by_stem.setdefault(stem, []).append(xml)

    families: dict[tuple, list[tuple[str, str]]] = {}
    meta: dict[tuple, tuple[dict, str | None]] = {}
    for stem, _, ttl_path, options, default_scheme in golden_cases():
        if stem in exclude or stem not in by_stem:
            continue
        key = (tuple(sorted(options.items())), default_scheme)
        meta[key] = (options, default_scheme)
        families.setdefault(key, []).extend(
            (stem, xml) for xml in by_stem[stem])
    return [(meta[key][0], meta[key][1], families[key])
            for key in sorted(families, key=repr)]


def golden_triples_union(
        exclude: set[str] | frozenset[str] = frozenset()) -> set[tuple]:
    """Distinct union of the REFERENCE-produced golden triples across
    the (non-excluded) example files — the expected output of running
    the extraction pipeline over the same records."""
    from ..core.turtle import parse_turtle_file

    rows: set[tuple] = set()
    for stem, _, ttl_path, _, _ in golden_cases():
        if stem in exclude:
            continue
        rows.update(parse_turtle_file(ttl_path))
    return rows
