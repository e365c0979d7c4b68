"""Deterministic synthetic inputs: MARC records and transcript shards.

Two generators, both seeded (FIXTURES.md §1 rules — no external data,
no wall-clock, reproducible at any scale):

* :func:`fixture_records` — the reference example corpus re-serialized
  as standalone ``<record>`` strings (used for parity tests);
* :func:`synth_marc_records` — a scale generator emitting valid
  classification + authority records with controllable skew, used by
  bench and the transcript round-trip tests;
* :func:`make_transcript_rows` — shards record XML across consecutive
  payload turns of synthetic conversations (input_hint schema), rows
  returned shuffled so the pipeline must sort, never rely on file order.
"""

from __future__ import annotations

import glob
import os
import random
import xml.etree.ElementTree as ET
from datetime import datetime, timedelta

from .examples import EXAMPLES_DIR

_MARC_NS = "http://www.loc.gov/MARC21/slim"

# bump when generator output changes: keys the bench staging cache
GEN_VERSION = 2


def records_in_xml_file(path: str) -> list[str]:
    """Standalone ``<record>`` XML strings from a MARCXML file.

    Re-serialized element-by-element so namespace declarations travel
    with each record even when the original file declared them on a
    wrapping ``<collection>``.  The parse preserves processing
    instructions (``<?ddc …?>`` inside note subfields — the P5 flatten
    semantics) so every consumer — fixtures, goldens, the convert CLI —
    sees the same tree.
    """
    from ..core.marcxml import _localname, _tree_builder
    root = ET.parse(path,
                    parser=ET.XMLParser(target=_tree_builder())).getroot()
    records = [el for el in root.iter() if _localname(el.tag) == "record"]
    out = []
    for element in records:
        element.tail = None  # ET.tostring would serialize the tail
        out.append(ET.tostring(element, encoding="unicode"))
    return out


def fixture_records() -> list[tuple[str, str]]:
    """(source_stem, standalone_record_xml) for every reference example."""
    out = []
    for path in sorted(glob.glob(os.path.join(EXAMPLES_DIR, "*.xml"))):
        stem = os.path.splitext(os.path.basename(path))[0]
        for xml in records_in_xml_file(path):
            out.append((stem, xml))
    return out


_CAPTIONS = ["Knowledge", "Systems", "Data processing", "Bibliographies",
             "Museology", "Journalism", "Manuscripts", "Serials",
             "Organizations", "News media"]
_TOPICS = ["informatikk", "kunnskap", "metode", "analyse", "historie",
           "samling", "teori", "praksis", "modell", "struktur"]


def synth_records_for_index(i: int, seed: int = 42,
                            duplicate_every: int = 17) -> list[tuple[str, str]]:
    """Deterministic per-index record generation (seeded by (seed, i)),
    so generation can run *distributed* — each executor materializes only
    its own record indices with no shared RNG state."""
    rng = random.Random("%d:%d" % (seed, i))
    out = []
    rid = "syn%08d" % i
    if rng.random() < 0.7:
        major = rng.randint(0, 999)
        minor = rng.randint(0, 99)
        notation = "%03d.%02d" % (major, minor)
        parent = "%03d" % major
        caption = "%s %s" % (rng.choice(_CAPTIONS), rng.choice(_TOPICS))
        scope = "Her: %s, %s" % (rng.choice(_TOPICS), rng.choice(_TOPICS))
        xml = (
            '<record xmlns="%s">'
            '<leader>00000nw  a2200000n  4500</leader>'
            '<controlfield tag="001">%s</controlfield>'
            '<controlfield tag="005">20150910004647.0</controlfield>'
            '<controlfield tag="008">091203aaaaaaaa</controlfield>'
            '<datafield tag="040" ind1=" " ind2=" ">'
            '<subfield code="b">nob</subfield></datafield>'
            '<datafield tag="084" ind1="0" ind2=" ">'
            '<subfield code="a">ddc</subfield>'
            '<subfield code="c">23no</subfield></datafield>'
            '<datafield tag="153" ind1=" " ind2=" ">'
            '<subfield code="a">%s</subfield>'
            '<subfield code="e">%s</subfield>'
            '<subfield code="j">%s</subfield></datafield>'
            '<datafield tag="680" ind1="1" ind2=" ">'
            '<subfield code="i">Her:</subfield>'
            '<subfield code="t">%s</subfield>'
            '<subfield code="9">ess=nch</subfield></datafield>'
            '<datafield tag="750" ind1=" " ind2="7">'
            '<subfield code="a">%s</subfield>'
            '<subfield code="0">(OCoLC-D)%s-idx</subfield>'
            '<subfield code="2">ddcri</subfield></datafield>'
            "</record>"
        ) % (_MARC_NS, rid, notation, parent, caption,
             rng.choice(_TOPICS), scope, rid)
    else:
        heading = "%s, %s" % (rng.choice(_CAPTIONS), rng.choice(_TOPICS))
        alt = "%s (%s)" % (rng.choice(_TOPICS), rng.choice(_TOPICS))
        viaf = rng.randint(10 ** 6, 10 ** 9)
        xml = (
            '<record xmlns="%s">'
            '<leader>00000nz  a2200000n  4500</leader>'
            '<controlfield tag="001">sh%s</controlfield>'
            '<controlfield tag="005">20170814095021.0</controlfield>'
            '<controlfield tag="008">120224n|aana               a aaa     </controlfield>'
            '<datafield tag="040" ind1=" " ind2=" ">'
            '<subfield code="b">eng</subfield></datafield>'
            '<datafield tag="024" ind1="7" ind2=" ">'
            '<subfield code="a">%d</subfield>'
            '<subfield code="2">viaf</subfield></datafield>'
            '<datafield tag="150" ind1=" " ind2=" ">'
            '<subfield code="a">%s</subfield></datafield>'
            '<datafield tag="450" ind1=" " ind2=" ">'
            '<subfield code="a">%s</subfield></datafield>'
            '<datafield tag="550" ind1=" " ind2=" ">'
            '<subfield code="w">g</subfield>'
            '<subfield code="0">sh%07d</subfield>'
            '<subfield code="a">broader term</subfield></datafield>'
            '<datafield tag="670" ind1=" " ind2=" ">'
            '<subfield code="a">Work catalog, %s</subfield></datafield>'
            "</record>"
        ) % (_MARC_NS, rid[3:], viaf, heading, alt,
             rng.randint(0, 10 ** 7 - 1), rng.choice(_TOPICS))
        rid = "sh" + rid[3:]
    out.append((rid, xml))
    if duplicate_every and i % duplicate_every == 5 and "153" in xml:
        # Same concept re-issued under another DDC edition: minted
        # URI differs (…/e22/ vs …/e23/) while the dcterms:identifier
        # literal is shared — a candidate sameAs pair for the
        # union-find canonicalization stage.
        out.append((rid + "dup", xml.replace("23no", "22no")))
    return out


def synth_marc_records(n: int, seed: int = 42,
                       duplicate_every: int = 17) -> list[tuple[str, str]]:
    """Generate ``n`` valid MARC records: ~70% classification (ddc),
    ~30% authority (lcsh-coded).

    Every ``duplicate_every``-th classification record is re-emitted
    under another DDC edition — seeding candidate ``sameAs`` pairs for
    the canonicalization stage.  Returns (record_id, record_xml) pairs.
    """
    out: list[tuple[str, str]] = []
    for i in range(n):
        out.extend(synth_records_for_index(i, seed, duplicate_every))
    return out


#: records per generated conversation
RECORDS_PER_CONV = 3


def make_transcript_rows(records: list[tuple[str, str]], seed: int = 42,
                         max_chunks: int = 8,
                         skew_factor: int = 0) -> list[tuple]:
    """Shard record XML strings into transcript rows (input_hint schema).

    Invariants (FIXTURES.md §1): a record never spans conversations;
    concatenating the payload turns (tool='marc_export') of one
    conversation in (conv_id, turn_idx) order reproduces each record
    byte-exactly; rows are returned shuffled.  ``skew_factor>0`` routes
    that many extra records into conversation 0 to create a hot key for
    skew-handling tests.
    """
    rng = random.Random(seed)
    rows: list[tuple] = []
    base_ts = datetime(2026, 1, 1)

    conv_records: list[list[tuple[str, str]]] = []
    current: list[tuple[str, str]] = []
    for idx, item in enumerate(records):
        if skew_factor and idx < skew_factor:
            if not conv_records:
                conv_records.append([])
            conv_records[0].append(item)
            continue
        current.append(item)
        if len(current) >= RECORDS_PER_CONV:
            conv_records.append(current)
            current = []
    if current:
        conv_records.append(current)

    for conv_no, items in enumerate(conv_records):
        rows.extend(_conversation_rows(conv_no, items, rng, max_chunks,
                                       base_ts))

    rng.shuffle(rows)
    return rows


def _conversation_rows(conv_no: int, items: list[tuple[str, str]],
                       rng: random.Random, max_chunks: int,
                       base_ts: datetime) -> list[tuple]:
    """Rows of one conversation: filler turns + chunked payload turns."""
    conv_id = "conv-%06d" % conv_no
    rows: list[tuple] = []
    turn_idx = 0
    ts = base_ts + timedelta(minutes=conv_no)

    def emit(role, text, tool):
        nonlocal turn_idx, ts
        rows.append((conv_id, turn_idx, role, text, tool, ts))
        turn_idx += 1
        ts += timedelta(seconds=1)

    emit("user", "please export the classification records", None)
    for record_id, xml in items:
        n_chunks = rng.randint(1, max_chunks)
        cuts = sorted(rng.sample(range(1, len(xml)),
                                 min(n_chunks - 1, len(xml) - 1)))
        chunks = [xml[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(xml)])]
        emit("assistant", "exporting %s" % record_id, None)
        for chunk in chunks:
            emit("tool", chunk, "marc_export")
    emit("assistant", "done", None)
    return rows


def transcripts_dataframe(spark, n_records: int, seed: int = 42,
                          partitions: int | None = None):
    """DISTRIBUTED transcript generation: ``spark.range`` over
    conversation indices → ``mapInPandas`` emitting each conversation's
    rows.  Per-conversation RNG is seeded by (seed, conv_no), so output
    is deterministic and independent of partitioning — the only way to
    stage inputs big enough for scaling runs (a driver-side generator
    caps out at createDataFrame serialization speed).
    """
    import math

    import pandas as pd

    from ..plans.schemas import TRANSCRIPTS

    n_convs = max(1, math.ceil(n_records / RECORDS_PER_CONV))
    base_ts = datetime(2026, 1, 1)
    columns = [f.name for f in TRANSCRIPTS.fields]

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for conv_no in pdf["id"]:
                conv_no = int(conv_no)
                lo = conv_no * RECORDS_PER_CONV
                hi = min(lo + RECORDS_PER_CONV, n_records)
                items: list[tuple[str, str]] = []
                for i in range(lo, hi):
                    items.extend(synth_records_for_index(i, seed))
                rng = random.Random("%d:conv:%d" % (seed, conv_no))
                rows.extend(_conversation_rows(conv_no, items, rng, 8,
                                               base_ts))
            yield pd.DataFrame(rows, columns=columns)

    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (spark.range(n_convs)
            .repartition(partitions)
            .mapInPandas(gen, schema=TRANSCRIPTS))
