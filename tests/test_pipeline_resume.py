"""Pipeline orchestration: checkpointing, lineage rows, and
kill/rerun idempotence (BASELINE.md resume row)."""

import pytest

from mc2skos_spark.plans import schemas
from mc2skos_spark.plans.pipeline import KgPipeline
from mc2skos_spark.sources.synth import make_transcript_rows, synth_marc_records

pytestmark = pytest.mark.spark


def triple_set(df):
    return {(r["subj"], r["pred"], r["obj"], r["obj_lang"],
             r["obj_datatype"], r["component_pos"]) for r in df.collect()}


@pytest.fixture()
def transcripts(spark):
    rows = make_transcript_rows(synth_marc_records(60, seed=21), seed=22)
    return spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)


def test_pipeline_end_to_end_with_lineage(spark, transcripts, tmp_path):
    pipe = KgPipeline(spark, str(tmp_path / "wh"), expand=True)
    triples = pipe.run(transcripts)
    assert triples.count() > 200
    assert [s for s, how in pipe.stage_log if how == "ran"] == [
        "records", "extracted", "triples_raw", "quarantine", "warnings",
        "triples_canonical", "triples_expanded", "triples"]
    manifest = pipe.catalog.current_manifest("triples_raw")
    assert manifest["row_count"] > 0
    assert manifest["skew"]["max_rows"] >= manifest["skew"]["min_rows"]
    for part in manifest["lineage"]:
        assert part["row_count"] > 0 and part["input_min"] <= part["input_max"]


def test_resume_skips_committed_stages(spark, transcripts, tmp_path):
    wh = str(tmp_path / "wh")
    first = KgPipeline(spark, wh)
    baseline = triple_set(first.run(transcripts))

    second = KgPipeline(spark, wh)
    result = triple_set(second.run(transcripts))
    assert all(how == "resumed" for _, how in second.stage_log)
    assert result == baseline


def test_resume_reruns_on_config_change(spark, transcripts, tmp_path):
    """A warehouse produced under different flags must NOT be served as
    a resume: the snapshots reflect the OLD configuration (a rerun with
    --expand would otherwise print 'resumed' and return unexpanded
    triples)."""
    wh = str(tmp_path / "wh")
    plain = KgPipeline(spark, wh)
    base = triple_set(plain.run(transcripts))

    expanded = KgPipeline(spark, wh, expand=True)
    result = triple_set(expanded.run(transcripts))
    ran = {stage for stage, how in expanded.stage_log if how == "ran"}
    assert "triples_expanded" in ran and "triples" in ran
    assert result > base  # inverse edges actually present

    forced = KgPipeline(spark, wh, expand=True, force=True)
    forced.run(transcripts)
    assert all(how == "ran" for _, how in forced.stage_log)


def test_kill_between_write_and_commit_is_idempotent(spark, transcripts,
                                                     tmp_path):
    wh = str(tmp_path / "wh")
    first = KgPipeline(spark, wh)
    baseline = triple_set(first.run(transcripts))

    # Simulate dying after stage-2 data write but before manifest commit:
    # downstream stages also lose their commits (they were never reached
    # in the simulated run).
    for stage in ("triples_raw", "quarantine", "warnings",
                  "triples_canonical", "triples"):
        first.catalog.invalidate(stage)

    second = KgPipeline(spark, wh)
    result = triple_set(second.run(transcripts))
    log = dict(second.stage_log)
    assert log["records"] == "resumed"
    assert log["extracted"] == "resumed"
    assert log["triples_raw"] == "ran"
    assert result == baseline


def test_kill_during_stage_write_discards_partial_snapshot(
        spark, transcripts, tmp_path):
    """Kill DURING a stage's data write (partial snapshot dir on disk,
    manifest never committed): the rerun must treat the stage as
    never-run, overwrite the orphan, and converge to the same output a
    clean run produces — snapshot isolation at the file level."""
    import os

    clean = KgPipeline(spark, str(tmp_path / "clean"))
    baseline = triple_set(clean.run(transcripts))

    wh = str(tmp_path / "wh")
    victim = KgPipeline(spark, wh)
    real_write = victim.catalog.write

    class SimulatedKill(RuntimeError):
        pass

    def killing_write(table, df, **kw):
        if table == "extracted":
            # a fraction of the data lands, then the process dies before
            # the manifest commit (os.replace) ever happens
            snap = os.path.join(wh, "extracted", "snap-000000")
            df.limit(5).write.mode("overwrite").parquet(snap)
            raise SimulatedKill(table)
        return real_write(table, df, **kw)

    victim.catalog.write = killing_write
    with pytest.raises(SimulatedKill):
        victim.run(transcripts)

    # orphan partial data exists but is invisible: no manifest
    assert os.path.isdir(os.path.join(wh, "extracted", "snap-000000"))
    assert victim.catalog.current_manifest("extracted") is None

    second = KgPipeline(spark, wh)
    result = triple_set(second.run(transcripts))
    log = dict(second.stage_log)
    assert log["records"] == "resumed"      # committed before the kill
    assert log["extracted"] == "ran"        # partial snapshot discarded
    assert log["triples_raw"] == "ran"
    assert result == baseline

    # rerun output is identical to the clean run's at the manifest level
    # (row counts, per-file lineage counts and input spans)
    for stage in ("extracted", "triples_raw", "triples_canonical",
                  "triples"):
        a = clean.catalog.current_manifest(stage)
        b = second.catalog.current_manifest(stage)
        assert a["row_count"] == b["row_count"]
        # part-file names embed the write's UUID; the deterministic
        # surface is the per-file row counts and input spans
        assert ([(p["row_count"], p["input_min"], p["input_max"])
                 for p in a["lineage"]]
                == [(p["row_count"], p["input_min"], p["input_max"])
                    for p in b["lineage"]])


STAGES = ("records", "extracted", "triples_raw", "quarantine", "warnings",
          "triples_canonical", "triples")


def test_side_stage_error_raises_and_rerun_resumes(spark, transcripts,
                                                   tmp_path):
    """A side stage runs beside the main chain: its error surfaces from
    ``run`` once every stage has been joined, and a rerun resumes all
    that was committed before it."""
    wh = str(tmp_path / "wh")
    victim = KgPipeline(spark, wh)
    real_write = victim.catalog.write

    class SideStageFailure(RuntimeError):
        pass

    def failing_write(table, df, **kw):
        if table == "warnings":
            raise SideStageFailure(table)
        return real_write(table, df, **kw)

    victim.catalog.write = failing_write
    with pytest.raises(SideStageFailure):
        victim.run(transcripts)
    committed = [s for s in STAGES if victim.catalog.exists(s)]
    assert "warnings" not in committed
    assert [s for s, _ in victim.stage_log] == committed

    second = KgPipeline(spark, wh)
    second.run(transcripts)
    assert [s for s, _ in second.stage_log] == list(STAGES)
    assert [s for s, how in second.stage_log if how == "resumed"] == \
        committed
    assert dict(second.stage_log)["warnings"] == "ran"


def test_side_stages_inherit_the_callers_job_group(spark, transcripts,
                                                   tmp_path):
    """Side-stage jobs carry the job group the caller set before
    ``run``, so ``cancelJobGroup`` and per-group job accounting cover
    them; no job of the build runs outside the group."""
    import threading

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pipe = KgPipeline(spark, str(tmp_path / "wh"), validate=True)
    real_write = pipe.catalog.write
    seen = {}

    def spying_write(table, df, **kw):
        seen[table] = (threading.current_thread() is threading.main_thread(),
                       sc.getLocalProperty("spark.jobGroup.id"))
        return real_write(table, df, **kw)

    pipe.catalog.write = spying_write
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kg-side-stages", "side stages inherit the group")
    try:
        pipe.run(transcripts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for table in ("quarantine", "warnings", "validation_warnings"):
        assert seen[table] == (False, "kg-side-stages"), table
    assert seen["triples_raw"] == (True, "kg-side-stages")
    assert tracker.getJobIdsForGroup("kg-side-stages")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
