"""Incremental MinHash dedup against a persisted signature index
(functions/incremental.py) + the Icebergish append semantics it rides
on: batch 2 must read batch 1's index from the manifest (no corpus
recompute, no corpus rewrite), and the whole thing must equal the
from-scratch full-corpus answer."""

import os

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.functions.dedup import (minhash_lsh_candidates,
                                           minhash_signatures,
                                           minhash_similarity)
from mc2skos_spark.functions.incremental import (
    BUCKET_SUFFIX, SIG_SUFFIX, create_minhash_index,
    incremental_minhash_pairs, index_params)
from mc2skos_spark.sinks.icebergish import IcebergishCatalog

pytestmark = pytest.mark.spark

PARAMS = dict(n=2, num_hashes=16, bands=4)


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


@pytest.fixture()
def corpus_and_batch(spark):
    base = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
        (3, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
        (4, "spark catalyst tungsten arrow shuffle broadcast join"),
    ]
    # batch: an exact dup of doc 1 (cross-batch), two near-identical
    # new docs (batch-internal pair), one novel doc
    batch = [
        (11, "alpha beta gamma delta epsilon zeta eta theta"),
        (12, "red orange yellow green blue indigo violet purple "
             "crimson teal maroon olive navy aqua silver gold bronze"),
        (13, "red orange yellow green blue indigo violet purple "
             "crimson teal maroon olive navy aqua silver gold bronze x"),
        (14, "completely unrelated text about something else entirely"),
    ]
    return _docs(spark, base), _docs(spark, batch)


# ------------------------------------------------------- catalog append

def test_append_references_old_files(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", _docs(spark, [(1, "a"), (2, "b")]), lineage_key="doc_id")
    m0 = cat.current_manifest("t")
    cat.append("t", _docs(spark, [(3, "c")]), lineage_key="doc_id")
    m1 = cat.current_manifest("t")
    assert m1["snapshot_id"] == m0["snapshot_id"] + 1
    # the new snapshot REFERENCES the old dir — no rewrite
    assert m1["dirs"] == [m0["dir"], m1["dir"]]
    assert m1["row_count"] == 3
    # lineage part ids continue across the append
    assert [p["part_id"] for p in m1["lineage"]] == \
        list(range(len(m1["lineage"])))
    got = {(r["doc_id"], r["text"]) for r in cat.read("t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_append_schema_and_partition_guards(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", _docs(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="schema mismatch"):
        cat.append("t", spark.createDataFrame([(1,)], "x long"))
    cat.write("p", _docs(spark, [(1, "a"), (2, "b")]),
              partition_by=["doc_id"])
    with pytest.raises(ValueError, match="partitioned"):
        cat.append("p", _docs(spark, [(3, "c")]))
    # append to a missing table degrades to a plain write
    m = cat.append("fresh", _docs(spark, [(9, "z")]))
    assert m["snapshot_id"] == 0 and cat.read("fresh").count() == 1


def test_append_kill_before_commit_keeps_previous_snapshot(spark,
                                                           tmp_path):
    """A snapshot dir written without its manifest (the mid-append
    kill) is invisible: readers still resolve the previous commit."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", _docs(spark, [(1, "a")]))
    m0 = cat.current_manifest("t")
    # simulate the kill: data lands, manifest rename never happens
    stray = os.path.join(str(tmp_path / "wh"), "t", "snap-000001")
    _docs(spark, [(2, "b")]).write.parquet(stray)
    assert cat.current_manifest("t")["snapshot_id"] == m0["snapshot_id"]
    assert cat.read("t").count() == 1
    # the re-run append commits snapshot 2 (ids are monotonic) and the
    # stray dir stays invisible garbage
    cat.append("t", _docs(spark, [(2, "b")]))
    assert cat.read("t").count() == 2


# --------------------------------------------------- incremental dedup

def test_incremental_pairs_and_commit(spark, tmp_path, corpus_and_batch):
    corpus, batch = corpus_and_batch
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    create_minhash_index(cat, "idx", corpus, "doc_id", "text", **PARAMS)
    assert index_params(cat, "idx") == \
        {"n": 2, "num_hashes": 16, "bands": 4}

    # batch 2 reads batch 1's index FROM THE MANIFEST: a fresh catalog
    # object over the same warehouse (new "session", nothing cached)
    cat2 = IcebergishCatalog(str(tmp_path / "wh"), spark)
    pairs = {(r["id_a"], r["id_b"])
             for r in incremental_minhash_pairs(
                 cat2, "idx", batch, "doc_id", "text",
                 threshold=0.9).collect()}
    assert (1, 11) in pairs          # cross-batch exact dup
    assert (12, 13) in pairs         # batch-internal near dup
    assert not any(14 in p for p in pairs)   # novel doc pairs nothing
    # corpus-internal pairs are NOT re-emitted by the batch run
    assert all(a > 10 or b > 10 for a, b in pairs)

    # the commit appended the batch: the index now covers both batches
    m = cat2.current_manifest("idx" + SIG_SUFFIX)
    assert m["snapshot_id"] == 1 and len(m["dirs"]) == 2
    assert cat2.read("idx" + SIG_SUFFIX).count() == 8  # 4 + 4 docs
    assert cat2.read("idx" + BUCKET_SUFFIX).count() == 8 * PARAMS["bands"]


def test_incremental_no_commit_is_rerunnable(spark, tmp_path,
                                             corpus_and_batch):
    """commit=False (the killed-before-append shape): the index is
    untouched and re-running the batch gives identical pairs."""
    corpus, batch = corpus_and_batch
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    create_minhash_index(cat, "idx", corpus, "doc_id", "text", **PARAMS)
    s0 = cat.current_manifest("idx" + SIG_SUFFIX)["snapshot_id"]
    run1 = {tuple(r) for r in incremental_minhash_pairs(
        cat, "idx", batch, "doc_id", "text", threshold=0.9,
        commit=False).collect()}
    assert cat.current_manifest("idx" + SIG_SUFFIX)["snapshot_id"] == s0
    run2 = {tuple(r) for r in incremental_minhash_pairs(
        cat, "idx", batch, "doc_id", "text", threshold=0.9,
        commit=False).collect()}
    assert run1 == run2 and run1


def test_incremental_equals_full_corpus(spark, tmp_path,
                                        corpus_and_batch):
    """Index(batch1) + incremental(batch2) must reproduce exactly the
    from-scratch full-corpus pair set: batch-1-internal pairs from the
    index-side self-join, every pair touching batch 2 from the
    incremental join."""
    corpus, batch = corpus_and_batch
    full = corpus.unionByName(batch)
    sigs = minhash_signatures(full, "doc_id", "text",
                              n=PARAMS["n"],
                              num_hashes=PARAMS["num_hashes"])
    expected = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_similarity(
            sigs, minhash_lsh_candidates(sigs, bands=PARAMS["bands"]))
        .filter(F.col("est_jaccard") >= 0.9).collect()}

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    create_minhash_index(cat, "idx", corpus, "doc_id", "text", **PARAMS)
    corpus_sigs = cat.read("idx" + SIG_SUFFIX)
    corpus_internal = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_similarity(
            corpus_sigs,
            minhash_lsh_candidates(corpus_sigs, bands=PARAMS["bands"]))
        .filter(F.col("est_jaccard") >= 0.9).collect()}
    incremental = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in incremental_minhash_pairs(
            cat, "idx", batch, "doc_id", "text",
            threshold=0.9).collect()}
    assert corpus_internal | incremental == expected
    assert corpus_internal.isdisjoint(incremental)


def test_batch_id_makes_commit_replay_safe(spark, tmp_path,
                                           corpus_and_batch):
    """commit=True with a batch_id: a retried run of the same batch id
    recomputes identical pairs but does NOT double-ingest the
    signatures (the orchestrator-retry guard)."""
    corpus, batch = corpus_and_batch
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    create_minhash_index(cat, "idx", corpus, "doc_id", "text", **PARAMS)
    run1 = {tuple(r) for r in incremental_minhash_pairs(
        cat, "idx", batch, "doc_id", "text", threshold=0.9,
        batch_id=5).collect()}
    snap = cat.current_manifest("idx" + SIG_SUFFIX)["snapshot_id"]
    run2 = {tuple(r) for r in incremental_minhash_pairs(
        cat, "idx", batch, "doc_id", "text", threshold=0.9,
        batch_id=5).collect()}
    assert run1 == run2 and run1
    assert cat.current_manifest(
        "idx" + SIG_SUFFIX)["snapshot_id"] == snap
    assert cat.read("idx" + SIG_SUFFIX).count() == 8  # not 12


# ------------------------------------------------ keeper decision layer

def test_keeper_updates_merges_existing_clusters(spark):
    """The graph step alone: a batch doc linking TWO existing clusters
    merges them — batch assignment takes the global min, and both old
    keepers get remap rows (append-only; no historical rewrite)."""
    from mc2skos_spark.functions.incremental import keeper_updates
    assigned = spark.createDataFrame(
        [(1, 1), (5, 1), (3, 3), (7, 3), (9, 9)],
        "id long, keeper_id long")
    pairs = spark.createDataFrame([(5, 20), (7, 20), (21, 22)],
                                  "id_a long, id_b long")
    batch_ids = spark.createDataFrame([(20,), (21,), (22,), (23,)],
                                      "id long")
    batch_assign, remap = keeper_updates(pairs, assigned, batch_ids)
    got = {(r["id"], r["keeper_id"]) for r in batch_assign.collect()}
    # 20 joins the merged {1,5}+{3,7} component → keeper 1;
    # 21/22 form a batch-internal cluster; 23 is a singleton
    assert got == {(20, 1), (21, 21), (22, 21), (23, 23)}
    remaps = {(r["old"], r["new"]) for r in remap.collect()}
    assert remaps == {(3, 1)}  # cluster 3 merged into 1; 1 unchanged


def test_keeper_remap_chain_resolution(spark):
    """old→mid appended at batch N, mid→new at batch N+1: resolution
    follows the chain to the final keeper — also down a 64-link chain
    (pointer jumping, a handful of rounds).  A remap cycle has no final
    keeper: resolution raises instead of returning a partial answer."""
    from mc2skos_spark.functions.incremental import resolve_remap
    remap = spark.createDataFrame([(9, 5), (5, 1), (7, 5)],
                                  "old long, new long")
    got = {(r["old"], r["new"]) for r in resolve_remap(remap).collect()}
    assert got == {(9, 1), (5, 1), (7, 1)}
    chain = spark.createDataFrame([(i + 1, i) for i in range(64)],
                                  "old long, new long")
    got = {(r["old"], r["new"]) for r in resolve_remap(chain).collect()}
    assert got == {(i, 0) for i in range(1, 65)}
    cycle = spark.createDataFrame([(5, 3), (3, 5)], "old long, new long")
    with pytest.raises(RuntimeError, match="did not converge"):
        resolve_remap(cycle)


def test_incremental_keepers_equal_from_scratch(spark, tmp_path,
                                                corpus_and_batch):
    """Sequential incremental_keeper_assign over two batches: the
    resolved persisted state equals near_dup_keepers over the full
    corpus with the full pair set."""
    from mc2skos_spark.functions.dedup import near_dup_keepers
    from mc2skos_spark.functions.incremental import (
        create_minhash_index, current_keepers, incremental_keeper_assign)
    corpus, batch = corpus_and_batch
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    # empty seed: batch 1 and batch 2 both flow through the SAME
    # incremental path (the streaming bootstrap shape)
    create_minhash_index(cat, "idx", corpus.limit(0), "doc_id", "text",
                         **PARAMS)
    incremental_keeper_assign(cat, "idx", corpus, "doc_id", "text",
                              threshold=0.9, batch_id=0)
    a2 = {(r["id"], r["keeper_id"])
          for r in incremental_keeper_assign(
              cat, "idx", batch, "doc_id", "text", threshold=0.9,
              batch_id=1).collect()}
    assert (11, 1) in a2 and (12, 12) in a2 and (13, 12) in a2 \
        and (14, 14) in a2

    full = corpus.unionByName(batch)
    sigs = minhash_signatures(full, "doc_id", "text", n=PARAMS["n"],
                              num_hashes=PARAMS["num_hashes"])
    full_pairs = minhash_similarity(
        sigs, minhash_lsh_candidates(sigs, bands=PARAMS["bands"])) \
        .filter(F.col("est_jaccard") >= 0.9)
    expected = {(r["id"], r["keeper_id"])
                for r in near_dup_keepers(full, full_pairs).collect()}
    got = {(r["id"], r["keeper_id"])
           for r in current_keepers(cat, "idx").collect()}
    assert got == expected

    # replay of batch 1: assignments recomputed identically, state
    # untouched (guarded appends)
    snap = cat.current_manifest("idx_keepers")["snapshot_id"]
    incremental_keeper_assign(cat, "idx", batch, "doc_id", "text",
                              threshold=0.9, batch_id=1)
    assert cat.current_manifest("idx_keepers")["snapshot_id"] == snap
    assert {(r["id"], r["keeper_id"])
            for r in current_keepers(cat, "idx").collect()} == expected


def test_catalog_compact_and_expire(spark, tmp_path):
    """Maintenance actions for the append-per-batch flows: compaction
    rewrites accumulated small files into one snapshot with identical
    rows (properties + lineage preserved/rebuilt), a kill mid-compact
    leaves the previous snapshot current, and snapshot expiry removes
    exactly the unreferenced directories."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    import os

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    base = spark.range(0, 40).selectExpr("id", "id * 2 AS v")
    cat.write("t", base, lineage_key="id", properties={"cfg": "x"})
    for lo in (40, 80, 120):
        cat.append("t", spark.range(lo, lo + 40)
                   .selectExpr("id", "id * 2 AS v"), lineage_key="id")
    before = cat.current_manifest("t")
    assert len(before["dirs"]) == 4            # 1 write + 3 appends
    rows_before = sorted((r["id"], r["v"]) for r in cat.read("t").collect())

    m = cat.compact("t", target_files=2, lineage_key="id")
    assert len(m["dirs"]) == 1                 # one fresh snapshot dir
    assert len(m["lineage"]) <= 2              # file budget respected
    assert m["lineage"]  and m["row_count"] == 160
    assert m["properties"] == {"cfg": "x"}     # properties carried over
    rows_after = sorted((r["id"], r["v"]) for r in cat.read("t").collect())
    assert rows_after == rows_before           # row-identical

    # appends still work after compaction (schema unchanged)
    cat.append("t", spark.range(160, 170).selectExpr("id", "id * 2 AS v"),
               lineage_key="id")
    assert cat.current_manifest("t")["row_count"] == 170

    # expiry: keep only the current manifest; every directory not
    # referenced by it is removed, every referenced one survives
    tdir = os.path.join(str(tmp_path / "wh"), "t")
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["kept_manifests"] == 1
    current = cat.current_manifest("t")
    on_disk = {d for d in os.listdir(tdir) if d.startswith("snap-")}
    assert on_disk == set(current["dirs"])     # exactly the live dirs
    assert sorted((r["id"], r["v"]) for r in cat.read("t").collect()) \
        == rows_before + [(i, 2 * i) for i in range(160, 170)]
    # the original pre-compaction dirs are among the removed
    assert set(before["dirs"]) <= set(out["removed_dirs"])


def test_catalog_compact_kill_before_commit_resume_safe(spark, tmp_path):
    """A compaction whose manifest commit never lands must leave the
    table exactly as it was (snapshot isolation) — simulated by
    restoring the pre-compact manifests, as invalidate() does for
    writes."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    import os
    import shutil

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 30).selectExpr("id", "id AS v"),
              lineage_key="id")
    cat.append("t", spark.range(30, 60).selectExpr("id", "id AS v"),
               lineage_key="id")
    tdir = os.path.join(str(tmp_path / "wh"), "t")
    saved = {f: open(os.path.join(tdir, f)).read()
             for f in os.listdir(tdir) if f.startswith("manifest-")}
    rows = sorted(r["id"] for r in cat.read("t").collect())

    cat.compact("t")
    # simulate the kill: the compacted manifest never became current
    for f in os.listdir(tdir):
        if f.startswith("manifest-") and f not in saved:
            os.remove(os.path.join(tdir, f))
    assert sorted(r["id"] for r in cat.read("t").collect()) == rows
    # rerunning compaction converges; expiry then clears the orphan
    # half-committed dir
    m = cat.compact("t")
    cat.expire_snapshots("t", keep_last=1)
    on_disk = {d for d in os.listdir(tdir) if d.startswith("snap-")}
    assert on_disk == set(m["dirs"])
    assert sorted(r["id"] for r in cat.read("t").collect()) == rows


def test_catalog_policy_maintain(spark, tmp_path):
    """Manifest-STAT-driven maintenance: a skewed append pattern (one
    healthy seed file + a tail of per-batch slivers) trips the policy
    exactly when the stats say — max_files on count, min_rows_per_file
    on the MEDIAN (the big seed must not mask the sliver tail) — and
    the no-op case touches nothing (one JSON read, no new snapshot)."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 1000).selectExpr("id", "id AS v")
              .coalesce(1), lineage_key="id")
    rows_before = sorted(r["id"] for r in cat.read("t").collect())

    # under both bounds: maintain is a pure no-op
    assert not cat.needs_compaction("t", max_files=4,
                                    min_rows_per_file=10)
    snap_before = cat.current_manifest("t")["snapshot_id"]
    out = cat.maintain("t", max_files=4, min_rows_per_file=10)
    assert out["compacted"] is False and out["dirs_removed"] == 0
    assert cat.current_manifest("t")["snapshot_id"] == snap_before

    # sliver tail: 4 tiny appends → 5 files, median collapses to tiny
    for lo in (1000, 1003, 1006, 1009):
        cat.append("t", spark.range(lo, lo + 3)
                   .selectExpr("id", "id AS v").coalesce(1),
                   lineage_key="id")
    st = cat.file_stats("t")
    assert st["n_files"] == 5 and st["median_rows"] == 3
    assert cat.needs_compaction("t", max_files=4)          # count bound
    assert cat.needs_compaction("t", min_rows_per_file=10)  # median bound
    assert not cat.needs_compaction("t", max_files=10,
                                    min_rows_per_file=2)   # under both
    assert not cat.needs_compaction("t")                   # no bounds

    out = cat.maintain("t", max_files=4, min_rows_per_file=10)
    assert out["compacted"] is True
    assert out["files_before"] == 5 and out["files_after"] == 1
    assert out["rows"] == 1012 and out["dirs_removed"] >= 1
    assert sorted(r["id"] for r in cat.read("t").collect()) == \
        rows_before + list(range(1000, 1003)) + \
        list(range(1003, 1006)) + list(range(1006, 1009)) + \
        list(range(1009, 1012))
    # post-compaction the policy is satisfied again
    assert not cat.needs_compaction("t", max_files=4,
                                    min_rows_per_file=10)


def test_catalog_expire_older_than(spark, tmp_path):
    """Age-based snapshot expiry (Iceberg older_than semantics):
    manifests committed at or after the cutoff are retained beyond
    keep_last; genuinely old ones are dropped with their unreferenced
    directories."""
    import os
    import time
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 10).selectExpr("id"), lineage_key="id")
    cat.append("t", spark.range(10, 20).selectExpr("id"),
               lineage_key="id")
    cat.append("t", spark.range(20, 30).selectExpr("id"),
               lineage_key="id")
    tdir = os.path.join(str(tmp_path / "wh"), "t")
    n_manifests = len([f for f in os.listdir(tdir)
                       if f.startswith("manifest-")])
    assert n_manifests == 3

    # cutoff at epoch 0: every manifest is newer → all retained
    out = cat.expire_snapshots("t", keep_last=1, older_than=0.0)
    assert out["kept_manifests"] == 3 and out["removed_dirs"] == []

    # cutoff in the future: only keep_last survives, orphans removed
    out = cat.expire_snapshots("t", keep_last=1,
                               older_than=time.time() + 3600)
    assert out["kept_manifests"] == 1
    current = cat.current_manifest("t")
    on_disk = {d for d in os.listdir(tdir) if d.startswith("snap-")}
    assert on_disk == set(current["dirs"])
    assert sorted(r["id"] for r in cat.read("t").collect()) == \
        list(range(30))


def test_catalog_append_nullability_direction(spark, tmp_path):
    """Append compatibility is DIRECTIONAL on nullability: writing
    required data into an optional column is fine (parquet read-backs
    are always the optional side), but optional into required is
    rejected — nulls must never hide under a non-null manifest schema.
    Compaction preserves the committed schema verbatim, so strict
    appends keep working afterwards (the regression the maintain CLI
    test originally caught)."""
    from pyspark.sql import functions as F
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    import pytest as _pt

    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    strict = spark.range(3).select(
        "id", F.transform(F.sequence(F.lit(1), F.lit(2)),
                          lambda i: i + F.col("id")).alias("sig"))
    assert strict.schema["sig"].dataType.containsNull is False
    cat.write("t", strict, lineage_key="id")
    m = cat.compact("t")
    # committed schema NOT widened by the read-back
    assert m["schema"]["fields"][1]["type"]["containsNull"] is False
    cat.append("t", strict, lineage_key="id")        # strict OK
    assert cat.current_manifest("t")["row_count"] == 6

    # optional → required is rejected
    widened = cat.read("t")                          # parquet: widened
    assert widened.schema["sig"].dataType.containsNull is True
    with _pt.raises(ValueError, match="schema mismatch"):
        cat.append("t", widened.limit(1), lineage_key="id")

    # required → optional is accepted on a widened table
    cat.write("t2", widened, lineage_key="id")       # optional table
    cat.append("t2", strict, lineage_key="id")
    assert cat.current_manifest("t2")["row_count"] == 9
    # ...and the strict append did not tighten the committed schema: a
    # further optional append still lands
    cat.append("t2", widened.limit(1), lineage_key="id")
    assert cat.current_manifest("t2")["row_count"] == 10


def test_catalog_time_travel_and_history(spark, tmp_path):
    """Iceberg VERSION AS OF + the snapshot-log metadata view: every
    retained snapshot is readable as it was; history() records
    (operation, row_count) per commit; compaction keeps history
    readable; expiry makes expired ids unreachable — exactly Iceberg's
    contract."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 10).selectExpr("id"), lineage_key="id")
    cat.append("t", spark.range(10, 20).selectExpr("id"),
               lineage_key="id")
    cat.append("t", spark.range(20, 30).selectExpr("id"),
               lineage_key="id")

    # version-as-of: each snapshot reads as committed
    for sid, upper in [(0, 10), (1, 20), (2, 30)]:
        got = sorted(r["id"] for r in
                     cat.read("t", snapshot_id=sid).collect())
        assert got == list(range(upper)), sid

    # history: snapshot log oldest-first with operations and counts
    hist = cat.history("t").collect()
    assert [(r["snapshot_id"], r["operation"], r["row_count"],
             r["n_data_dirs"]) for r in hist] == [
        (0, "overwrite", 10, 1), (1, "append", 20, 2),
        (2, "append", 30, 3)]
    assert all(hist[i]["committed_at"] <= hist[i + 1]["committed_at"]
               for i in range(len(hist) - 1))

    # compaction commits a 'replace' snapshot; prior versions remain
    # readable until expired
    cat.compact("t", target_files=1, lineage_key="id")
    hist = cat.history("t").collect()
    assert (hist[-1]["operation"], hist[-1]["row_count"],
            hist[-1]["n_data_dirs"]) == ("replace", 30, 1)
    assert cat.read("t", snapshot_id=1).count() == 20

    # expiry removes old snapshots from the travelable range
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(FileNotFoundError, match="retained"):
        cat.read("t", snapshot_id=1)
    assert cat.read("t", snapshot_id=3).count() == 30
    assert [r["snapshot_id"] for r in cat.history("t").collect()] == [3]
    with pytest.raises(FileNotFoundError):
        cat.history("missing")


def test_catalog_incremental_read(spark, tmp_path):
    """Iceberg incremental append scan.  read_changes(from, to):
    exactly the rows appended in (from, to], O(delta) dirs only;
    empty span -> empty frame with the table schema; reversed span and
    a compaction inside the span raise."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 10).selectExpr("id"), lineage_key="id")
    cat.append("t", spark.range(10, 20).selectExpr("id"),
               lineage_key="id")
    cat.append("t", spark.range(20, 30).selectExpr("id"),
               lineage_key="id")

    got = cat.read_changes("t", from_snapshot_id=0)           # to=current
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 30))
    got = cat.read_changes("t", 0, to_snapshot_id=1)
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 20))

    # the delta scan must read ONLY the appended dirs
    scanned = cat.read_changes("t", 1, 2).select(
        F.input_file_name().alias("f")).distinct().collect()
    assert all("snap-000002" in r["f"] for r in scanned)

    # empty span keeps the schema; reversed span raises
    empty = cat.read_changes("t", 2, 2)
    assert empty.count() == 0 and empty.columns == ["id"]
    with pytest.raises(ValueError, match="precedes"):
        cat.read_changes("t", 2, 0)

    # compaction inside the span breaks append-only-ness -> loud error
    cat.compact("t", target_files=1, lineage_key="id")
    with pytest.raises(ValueError, match="not\\s+append-only"):
        cat.read_changes("t", 1)  # spans the replace snapshot
    # ...but a span starting AT the compacted snapshot works again
    cat.append("t", spark.range(30, 35).selectExpr("id"),
               lineage_key="id")
    got = cat.read_changes("t", 3)
    assert sorted(r["id"] for r in got.collect()) == list(range(30, 35))


def test_catalog_stats_pruning_and_clustered_write(spark, tmp_path):
    """Manifest zone maps (Iceberg manifest-entry min/max evaluation):
    a range-clustered write records per-file min/max/null-count; a
    read_where scan opens ONLY overlapping files yet returns rows
    identical to read().filter() for every bound shape — stats skip,
    the residual filter decides."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    df = (spark.range(0, 1000)
          .selectExpr("id", "cast(id % 7 as string) AS tag",
                      "if(id % 11 = 0, cast(null as bigint), id) AS v"))
    m = cat.write("t", df, lineage_key="id",
                  stats_columns=["id", "tag", "v"],
                  cluster_by=["id"], num_files=8)
    assert m["stats_columns"] == ["id", "tag", "v"]
    assert m["cluster_by"] == ["id"]
    assert len(m["lineage"]) == 8
    for e in m["lineage"]:
        assert set(e["stats"]) == {"id", "tag", "v"}
        assert e["stats"]["id"]["min"] <= e["stats"]["id"]["max"]

    def expect(where, cond_sql):
        got = sorted(r["id"] for r in
                     cat.read_where("t", where).collect())
        want = sorted(r["id"] for r in
                      cat.read("t").filter(cond_sql).collect())
        assert got == want, where
        return got

    # clustered on id: a narrow id range must open < all files
    kept, total = cat.pruned_files("t", {"id": (100, 150)})
    assert total == 8 and 1 <= len(kept) <= 2
    expect({"id": (100, 150)}, "id BETWEEN 100 AND 150")
    # unbounded sides
    expect({"id": (900, None)}, "id >= 900")
    expect({"id": (None, 50)}, "id <= 50")
    # empty result: bounds beyond the domain prune EVERY file
    kept, _ = cat.pruned_files("t", {"id": (5000, 6000)})
    assert kept == []
    assert cat.read_where("t", {"id": (5000, 6000)}).count() == 0
    # string column, NOT clustered on it: correct but un-prunable
    # (every file holds every tag)
    kept, _ = cat.pruned_files("t", {"tag": ("3", "3")})
    assert len(kept) == 8
    expect({"tag": ("3", "3")}, "tag = '3'")
    # nullable column: residual filter drops nulls; (None, None) means
    # IS NOT NULL
    expect({"v": (500, 600)}, "v BETWEEN 500 AND 600")
    got = cat.read_where("t", {"v": (None, None)}).count()
    assert got == cat.read("t").filter("v IS NOT NULL").count()
    # conjunction across columns
    expect({"id": (100, 300), "tag": ("1", "2")},
           "id BETWEEN 100 AND 300 AND tag BETWEEN '1' AND '2'")

    # append inherits the table's stats columns; pruning spans both
    cat.append("t", spark.range(2000, 2100).selectExpr(
        "id", "cast(id % 7 as string) AS tag", "id AS v").coalesce(1),
        lineage_key="id")
    kept, total = cat.pruned_files("t", {"id": (2000, 2050)})
    assert total == 9 and len(kept) == 1
    assert cat.read_where("t", {"id": (2000, 2050)}).count() == 51
    assert (cat.read_where("t", {"id": (0, 99)}).count()
            == 100)

    # compaction recomputes stats over the rewritten files; pruning
    # still row-identical
    cat.compact("t", target_files=2, lineage_key="id")
    m2 = cat.current_manifest("t")
    assert m2["stats_columns"] == ["id", "tag", "v"]
    assert all("stats" in e for e in m2["lineage"])
    expect({"id": (100, 150)}, "id BETWEEN 100 AND 150")


def test_catalog_stats_guards(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    # an all-null file is skippable for any range predicate
    allnull = spark.sql(
        "SELECT id, cast(null as bigint) AS v FROM range(5)")
    cat.write("n", allnull.coalesce(1), lineage_key="id",
              stats_columns=["v"])
    kept, total = cat.pruned_files("n", {"v": (0, 10)})
    assert (kept, total) == ([], 1)
    assert cat.read_where("n", {"v": (0, 10)}).count() == 0
    # unsupported stats type (decimal) raises at WRITE, not at read
    dec = spark.sql("SELECT cast(id as decimal(10,2)) AS d FROM range(3)")
    with pytest.raises(ValueError, match="decimal"):
        cat.write("d", dec, stats_columns=["d"])
    with pytest.raises(ValueError, match="not in schema"):
        cat.write("d2", allnull, stats_columns=["nope"])
    # stats-less table: read_where still answers, opening all files
    cat.write("p", spark.range(10).selectExpr("id"), lineage_key="id")
    kept, total = cat.pruned_files("p", {"id": (3, 4)})
    assert len(kept) == total
    assert cat.read_where("p", {"id": (3, 4)}).count() == 2
    # partitioned tables refuse (partition pruning covers them)
    part = spark.range(10).selectExpr("id", "id % 2 AS k")
    cat.write("q", part, partition_by=["k"], lineage_key="id")
    with pytest.raises(ValueError, match="unpartitioned"):
        cat.read_where("q", {"id": (0, 5)})


def test_catalog_partitioned_lineage_files_distinct(spark, tmp_path):
    """Spark names output files per task, so one task's files in
    different partition dirs share a basename: lineage records each
    file's path relative to its snapshot dir, which names every file of
    a partitioned snapshot uniquely and resolves on disk."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    part = spark.range(30).selectExpr("id", "id % 3 AS k").repartition(2)
    m = cat.write("p", part, partition_by=["k"], lineage_key="id")
    files = [e["file"] for e in m["lineage"]]
    assert len(files) == 6                     # 2 tasks x 3 partitions
    assert len(set(files)) == len(files)
    tdir = os.path.join(str(tmp_path / "wh"), "p")
    for e in m["lineage"]:
        assert os.path.isfile(os.path.join(tdir, e["dir"], e["file"]))
    assert sum(e["row_count"] for e in m["lineage"]) == 30
