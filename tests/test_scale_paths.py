"""Scale-path operators: two-phase (salted) reassembly, predicate-key
partition pruning, lineage introspection."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.plans import schemas
from mc2skos_spark.plans.pipeline import KgPipeline
from mc2skos_spark.sources.synth import make_transcript_rows, synth_marc_records
from mc2skos_spark.sources.transcripts import reassemble_records

pytestmark = pytest.mark.spark


def test_two_phase_reassembly_equals_single_phase(spark):
    records = synth_marc_records(80, seed=51)
    rows = make_transcript_rows(records, seed=52, skew_factor=30,
                                max_chunks=8)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    single = {(r["record_id"], r["record_xml"])
              for r in reassemble_records(df).collect()}
    for block in (1, 2, 7, 1024):
        two = {(r["record_id"], r["record_xml"])
               for r in reassemble_records(df, block_size=block).collect()}
        assert two == single, "block_size=%d diverged" % block


def test_blocked_reassembly_adversarial_property(spark):
    """Blocked vs single-phase extraction on adversarial payloads:
    inter-record garbage (incl. stray end-tag fragments), records
    WITHOUT an 001 controlfield (positional conv#pos fallback ids must
    match exactly — this pins the prefix-sum position reconstruction),
    and random chunk boundaries, across block sizes down to 1."""
    import random

    rng = random.Random(1234)
    with_001 = ('<record><controlfield tag="001">id%03d</controlfield>'
                '<datafield tag="153"><subfield code="a">%d</subfield>'
                '</datafield></record>')
    without_001 = ('<record><datafield tag="153">'
                   '<subfield code="a">anon%d</subfield>'
                   '</datafield></record>')
    garbage = ["", " \n ", "GARBAGE", "</reco", "rd>", "<notrecord/>",
               "&lt;record&gt;"]

    rows = []
    for conv_no in range(6):
        payload = ""
        for k in range(rng.randint(1, 7)):
            payload += rng.choice(garbage)
            n = conv_no * 10 + k
            payload += (with_001 % (n, n) if rng.random() < 0.6
                        else without_001 % n)
        payload += rng.choice(garbage)
        cuts = sorted(rng.sample(range(1, len(payload)),
                                 rng.randint(0, min(12, len(payload) - 1))))
        chunks = [payload[a:b]
                  for a, b in zip([0] + cuts, cuts + [len(payload)])]
        turn_idx = rng.randint(0, 3)
        for chunk in chunks:
            rows.append(("conv-%d" % conv_no, turn_idx, "tool", chunk,
                         "marc_export", None))
            turn_idx += rng.randint(1, 4)   # gaps in turn_idx are legal
            rows.append(("conv-%d" % conv_no, turn_idx, "user", "noise",
                         None, None))       # non-payload interleave
            turn_idx += rng.randint(1, 4)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)

    single = sorted((r["record_id"], r["conv_id"], r["record_xml"])
                    for r in reassemble_records(df).collect())
    assert any(rid.startswith("conv-") and "#" in rid
               for rid, _, _ in single), "fallback ids not exercised"
    for block in (1, 3, 16, 1024):
        two = sorted((r["record_id"], r["conv_id"], r["record_xml"])
                     for r in reassemble_records(df, block_size=block)
                     .collect())
        assert two == single, "block_size=%d diverged" % block


def test_published_triples_partition_pruning(spark, tmp_path):
    rows = make_transcript_rows(synth_marc_records(40, seed=81), seed=82)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    pipe = KgPipeline(spark, str(tmp_path / "wh"), canonicalize=False)
    pipe.run(df)
    published = pipe.catalog.read("triples")
    broader = published.filter(
        F.col("pred_key") == "skos_broader").select("subj", "obj")
    assert broader.count() > 0  # finalize AQE
    plan = broader._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred_key" in plan, plan


def test_lineage_dataframe(spark, tmp_path):
    rows = make_transcript_rows(synth_marc_records(30, seed=71), seed=72)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    pipe = KgPipeline(spark, str(tmp_path / "wh"))
    pipe.run(df)
    lineage = pipe.catalog.lineage()
    stages = {r["stage"] for r in lineage.collect()}
    # quarantine is empty for all-valid input → it has a manifest but no
    # lineage partitions
    assert {"records", "extracted", "triples_raw"} <= stages
    totals = {r["stage"]: r["total"] for r in
              lineage.groupBy("stage")
              .agg(F.sum("row_count").alias("total")).collect()}
    assert totals["records"] > 0
    assert totals["triples_raw"] > totals["records"]
