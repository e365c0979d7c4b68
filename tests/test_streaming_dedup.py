"""Streaming near-dup detection vs the persisted MinHash index
(streaming/dedup_stream.py): micro-batches sign only themselves, join
the persisted index, and the union of per-batch pair snapshots equals
the from-scratch full-corpus answer; replays are no-ops."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.functions.dedup import (minhash_lsh_candidates,
                                           minhash_signatures,
                                           minhash_similarity)
from mc2skos_spark.functions.incremental import BUCKET_SUFFIX, SIG_SUFFIX
from mc2skos_spark.sinks.icebergish import IcebergishCatalog
from mc2skos_spark.streaming.dedup_stream import (StreamingDeduper,
                                                  stream_documents,
                                                  streamed_pairs)

pytestmark = pytest.mark.spark

PARAMS = dict(n=2, num_hashes=16, bands=4)

BATCH1 = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "one two three four five six seven eight nine"),
    (3, "spark catalyst tungsten arrow shuffle broadcast join"),
]
BATCH2 = [
    (11, "alpha beta gamma delta epsilon zeta eta theta"),   # dup of 1
    (12, "red orange yellow green blue indigo violet purple "
         "crimson teal maroon olive navy aqua silver gold bronze"),
    (13, "red orange yellow green blue indigo violet purple "
         "crimson teal maroon olive navy aqua silver gold bronze x"),
    (14, "completely unrelated text about something else entirely"),
]


def _expected_full(spark):
    full = spark.createDataFrame(BATCH1 + BATCH2,
                                 "doc_id long, text string")
    sigs = minhash_signatures(full, "doc_id", "text", n=PARAMS["n"],
                              num_hashes=PARAMS["num_hashes"])
    return {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_similarity(
            sigs, minhash_lsh_candidates(sigs, bands=PARAMS["bands"]))
        .filter(F.col("est_jaccard") >= 0.9).collect()}


def test_stream_dedup_end_to_end(spark, tmp_path):
    src = tmp_path / "docs_in"
    # two parquet files => two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(BATCH1, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(BATCH2, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f2"))

    wh = str(tmp_path / "wh")
    stream_documents(spark, str(src) + "/*", wh,
                     str(tmp_path / "ckpt"), threshold=0.9, **PARAMS)

    got = {(r["id_a"], r["id_b"], r["est_jaccard"])
           for r in streamed_pairs(spark, wh).collect()}
    assert got == _expected_full(spark)
    assert got  # the planted dups guarantee non-empty

    # the index now covers every streamed document
    cat = IcebergishCatalog(wh, spark)
    assert cat.read("docs_minhash" + SIG_SUFFIX).count() == 7
    assert cat.read("docs_minhash" + BUCKET_SUFFIX).count() == \
        7 * PARAMS["bands"]


def test_stream_dedup_replay_after_half_applied_commit(spark, tmp_path):
    """The nastiest kill point: batch applied to the sigs table but NOT
    the buckets table.  The replay must (a) recompute byte-identical
    pairs (the corpus side anti-joins the batch ids, so the stale sig
    copies cannot double the scoring rows) and (b) append only the
    missing table."""
    wh = str(tmp_path / "wh")
    deduper = StreamingDeduper(wh, threshold=0.9, **PARAMS)
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    deduper.process_batch(b1, 0)

    # simulate: batch 1's sigs appended, then the kill — buckets (and
    # the pairs snapshot) never happened
    cat = IcebergishCatalog(wh, spark)
    from mc2skos_spark.functions.dedup import minhash_signatures
    sigs2 = minhash_signatures(b2, "doc_id", "text", n=PARAMS["n"],
                               num_hashes=PARAMS["num_hashes"])
    cat.append("docs_minhash" + SIG_SUFFIX, sigs2, lineage_key="id",
               properties={"last_batch_id": 1})
    assert cat.read("docs_minhash" + SIG_SUFFIX).count() == 7
    assert cat.read("docs_minhash" + BUCKET_SUFFIX).count() == \
        3 * PARAMS["bands"]  # buckets still pre-batch

    deduper.process_batch(b2, 1)  # the replay
    got = {(r["id_a"], r["id_b"], r["est_jaccard"])
           for r in streamed_pairs(spark, wh).collect()}
    assert got == _expected_full(spark)
    # no duplicate rows slipped through the stale sig copies
    assert streamed_pairs(spark, wh).count() == len(got)
    # sigs were NOT appended again; buckets were completed
    assert cat.read("docs_minhash" + SIG_SUFFIX).count() == 7
    assert cat.read("docs_minhash" + BUCKET_SUFFIX).count() == \
        7 * PARAMS["bands"]


def test_stream_dedup_replay_is_noop(spark, tmp_path):
    wh = str(tmp_path / "wh")
    deduper = StreamingDeduper(wh, threshold=0.9, **PARAMS)
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    deduper.process_batch(b1, 0)
    deduper.process_batch(b2, 1)
    cat = IcebergishCatalog(wh, spark)
    sig_snap = cat.current_manifest("docs_minhash" + SIG_SUFFIX)
    pairs_before = {tuple(r) for r in
                    streamed_pairs(spark, wh).collect()}
    # replay of an already-applied batch: no index growth, same pairs
    deduper.process_batch(b2, 1)
    assert cat.current_manifest(
        "docs_minhash" + SIG_SUFFIX)["snapshot_id"] == \
        sig_snap["snapshot_id"]
    assert cat.read("docs_minhash" + SIG_SUFFIX).count() == 7
    assert {tuple(r) for r in
            streamed_pairs(spark, wh).collect()} == pairs_before
    assert pairs_before == _expected_full(spark)


def test_stream_checkpoint_reset_raises_not_skips(spark, tmp_path):
    """A fresh stream checkpoint against an old warehouse restarts
    batch ids at 0; silently skipping would drop brand-new documents.
    The handler distinguishes a genuine replay (all ids already
    indexed) from the reset (never-seen ids) and fails loudly."""
    wh = str(tmp_path / "wh")
    deduper = StreamingDeduper(wh, threshold=0.9, **PARAMS)
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    deduper.process_batch(b1, 0)
    deduper.process_batch(b2, 1)
    # genuine replay of batch 1: silent no-op
    deduper.process_batch(b2, 1)
    # checkpoint reset: batch id 0 again but with NEW documents
    fresh = spark.createDataFrame(
        [(99, "never seen before text entirely new")],
        "doc_id long, text string")
    with pytest.raises(RuntimeError, match="checkpoint/warehouse"):
        deduper.process_batch(fresh, 0)


def test_stream_with_keeper_assignment(spark, tmp_path):
    """assign_keepers=True: the stream maintains the append-only
    cluster state; the resolved keepers after draining equal the
    from-scratch near_dup_keepers over everything streamed."""
    from mc2skos_spark.functions.dedup import near_dup_keepers
    from mc2skos_spark.functions.incremental import current_keepers
    src = tmp_path / "docs_in"
    spark.createDataFrame(BATCH1, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(BATCH2, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "f2"))
    wh = str(tmp_path / "wh")
    stream_documents(spark, str(src) + "/*", wh,
                     str(tmp_path / "ckpt"), threshold=0.9,
                     assign_keepers=True, **PARAMS)

    full = spark.createDataFrame(BATCH1 + BATCH2,
                                 "doc_id long, text string")
    sigs = minhash_signatures(full, "doc_id", "text", n=PARAMS["n"],
                              num_hashes=PARAMS["num_hashes"])
    pairs = minhash_similarity(
        sigs, minhash_lsh_candidates(sigs, bands=PARAMS["bands"])) \
        .filter(F.col("est_jaccard") >= 0.9)
    expected = {(r["id"], r["keeper_id"])
                for r in near_dup_keepers(full, pairs).collect()}
    cat = IcebergishCatalog(wh, spark)
    got = {(r["id"], r["keeper_id"])
           for r in current_keepers(cat, "docs_minhash").collect()}
    assert got == expected
    assert (11, 1) in got  # the cross-batch dup collapsed
