"""Streaming SEMANTIC (embedding) dedup vs the persisted vec index
(streaming/dedup_stream.py + functions/incremental.py's semantic
section): micro-batches are assigned via the broadcast centroid
matmul-argmax and scored against their centroid buckets only; the union
of per-batch pair snapshots equals the from-scratch SemDeDup answer;
replays are no-ops; the keeper state merges clusters across batches.

Test data is arranged so the first batch contains the centroid slice's
smallest ids (centroids are picked ONCE at bootstrap and held fixed),
making streamed == from-scratch an exact-equality statement."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.functions.dedup import (semantic_dedup_keepers,
                                           semantic_dedup_pairs)
from mc2skos_spark.functions.incremental import (CENTROID_SUFFIX,
                                                 VEC_SUFFIX,
                                                 current_keepers)
from mc2skos_spark.sinks.icebergish import IcebergishCatalog
from mc2skos_spark.streaming.dedup_stream import (StreamingSemanticDeduper,
                                                  stream_embeddings,
                                                  streamed_semantic_pairs)

pytestmark = pytest.mark.spark

PARAMS = dict(num_centroids=2, centroid_mod=2)
SCHEMA = "vec_id long, embedding array<double>"

# cluster A ~ [1,0,0] (centroid id 0), cluster B ~ [0,1,0] (centroid
# id 2); both centroid ids are even AND in batch 1, so the bootstrap
# centroid pick equals the full-corpus pick
BATCH1 = [
    (0, [1.0, 0.0, 0.0]),      # centroid A; near-dup of 1
    (1, [0.99, 0.14, 0.0]),    # cluster A, pairs with 0
    (2, [0.0, 1.0, 0.0]),      # centroid B; near-dup of 3
    (3, [0.1, 0.99, 0.0]),     # cluster B, pairs with 2
    (5, [0.88, 0.47, 0.0]),    # cluster A SINGLETON in batch 1
]
BATCH2 = [
    (11, [1.0, 0.01, 0.0]),    # dup of 0 (cross-batch pair)
    (12, [0.0, 0.98, 0.2]),    # near 2 (cross-batch pair, cluster B)
    (13, [0.0, 0.0, 1.0]),     # orthogonal: no pairs
    (14, [0.98, 0.18, 0.0]),   # cluster A, pairs with 0/1/11
    (15, [0.95, 0.31, 0.0]),   # BRIDGE: links {0,1} with singleton 5
]


def _full(spark):
    return spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)


def _expected_pairs(spark):
    return {(r["id_a"], r["id_b"], r["centroid"], r["cosine"])
            for r in semantic_dedup_pairs(
                _full(spark), threshold=0.97, **PARAMS).collect()}


def _write_batches(spark, src):
    spark.createDataFrame(BATCH1, SCHEMA) \
        .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(BATCH2, SCHEMA) \
        .coalesce(1).write.parquet(str(src / "f2"))


def test_stream_semantic_end_to_end(spark, tmp_path):
    src = tmp_path / "vecs_in"
    _write_batches(spark, src)
    wh = str(tmp_path / "wh")
    stream_embeddings(spark, str(src) + "/*", wh,
                      str(tmp_path / "ckpt"), threshold=0.97, **PARAMS)

    got = {(r["id_a"], r["id_b"], r["centroid"], r["cosine"])
           for r in streamed_semantic_pairs(spark, wh).collect()}
    exp = _expected_pairs(spark)
    assert got == exp
    assert (0, 11) in {(a, b) for a, b, _, _ in got}   # cross-batch dup
    assert (1, 15) in {(a, b) for a, b, _, _ in got}   # bridge edge
    # no duplicate rows from the batch×batch double-sided join
    assert streamed_semantic_pairs(spark, wh).count() == len(got)

    cat = IcebergishCatalog(wh, spark)
    assert cat.read("docs_semantic" + VEC_SUFFIX).count() == 10
    # centroids were picked once from batch 1's slice and held fixed
    cents = {r["cid"] for r in
             cat.read("docs_semantic" + CENTROID_SUFFIX).collect()}
    assert cents == {0, 2}


def test_stream_semantic_replay_is_noop(spark, tmp_path):
    wh = str(tmp_path / "wh")
    deduper = StreamingSemanticDeduper(wh, threshold=0.97, **PARAMS)
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    deduper.process_batch(b1, 0)
    deduper.process_batch(b2, 1)
    cat = IcebergishCatalog(wh, spark)
    vec_snap = cat.current_manifest("docs_semantic" + VEC_SUFFIX)
    pairs_before = {tuple(r) for r in
                    streamed_semantic_pairs(spark, wh).collect()}
    # replay of an applied batch: no index growth, same pairs
    deduper.process_batch(b2, 1)
    assert cat.current_manifest(
        "docs_semantic" + VEC_SUFFIX)["snapshot_id"] == \
        vec_snap["snapshot_id"]
    assert cat.read("docs_semantic" + VEC_SUFFIX).count() == 10
    assert {tuple(r) for r in
            streamed_semantic_pairs(spark, wh).collect()} == pairs_before
    assert pairs_before == _expected_pairs(spark)
    # checkpoint reset (old batch id, never-seen ids) fails loudly
    fresh = spark.createDataFrame([(99, [0.5, 0.5, 0.5])], SCHEMA)
    with pytest.raises(RuntimeError, match="checkpoint/warehouse"):
        deduper.process_batch(fresh, 0)


def test_stream_semantic_keepers_cross_batch_merge(spark, tmp_path):
    """assign_keepers=True: the resolved keepers after draining equal
    the from-scratch semantic_dedup_keepers — including the cluster
    MERGE where batch 2's bridge doc (15) links batch 1's {0,1} cluster
    with its singleton 5, remapping 5's keeper to 0."""
    src = tmp_path / "vecs_in"
    _write_batches(spark, src)
    wh = str(tmp_path / "wh")
    stream_embeddings(spark, str(src) + "/*", wh,
                      str(tmp_path / "ckpt"), threshold=0.97,
                      assign_keepers=True, **PARAMS)

    expected = {(r["id"], r["keeper_id"])
                for r in semantic_dedup_keepers(
                    _full(spark), threshold=0.97, **PARAMS).collect()}
    cat = IcebergishCatalog(wh, spark)
    got = {(r["id"], r["keeper_id"])
           for r in current_keepers(cat, "docs_semantic").collect()}
    assert got == expected
    assert (5, 0) in got       # the cross-batch cluster merge resolved
    assert (11, 0) in got      # cross-batch dup collapsed
    assert (13, 13) in got     # orthogonal doc keeps itself


def test_stream_semantic_with_auto_compaction(spark, tmp_path):
    """compact_policy={}: identical pairs, vec table compacted to one
    snapshot with the replay guard carried over; the single-write
    centroid table is left alone."""
    import os
    src = tmp_path / "vecs_in"
    _write_batches(spark, src)
    wh = str(tmp_path / "wh")
    stream_embeddings(spark, str(src) + "/*", wh,
                      str(tmp_path / "ckpt"), threshold=0.97,
                      compact_policy={}, **PARAMS)

    got = {(r["id_a"], r["id_b"], r["centroid"], r["cosine"])
           for r in streamed_semantic_pairs(spark, wh).collect()}
    assert got == _expected_pairs(spark)

    cat = IcebergishCatalog(wh, spark)
    m = cat.current_manifest("docs_semantic" + VEC_SUFFIX)
    assert len(m["dirs"]) == 1
    assert int(m["properties"]["last_batch_id"]) == 1
    tdir = os.path.join(wh, "docs_semantic" + VEC_SUFFIX)
    on_disk = {d for d in os.listdir(tdir) if d.startswith("snap-")}
    assert on_disk == set(m["dirs"])
    assert m["row_count"] == 10
    # a replayed batch against the compacted index is still a no-op
    dedup = StreamingSemanticDeduper(wh, threshold=0.97, **PARAMS)
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    assert dedup.replay_applied(b2, 1) is True
