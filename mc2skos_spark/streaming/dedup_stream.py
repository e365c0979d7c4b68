"""Streaming near-duplicate detection against the persisted MinHash
index — the production shape for a document stream at 100 TB.

``readStream`` over a documents directory → ``foreachBatch`` where each
micro-batch:

1. signs ONLY its own documents and equi-joins the *persisted* banded
   index (``functions/incremental.py`` — corpus never recomputed, never
   rewritten);
2. commits the batch's near-dup pairs as a versioned snapshot
   (``dedup_pairs_batch_N`` — replay overwrites identical content);
3. appends the batch's signatures/buckets into the index
   (``append_batch_to_index``, guarded per table by ``last_batch_id``).

Replay idempotence: the pairs snapshot is written BEFORE the index
appends, pair computation reads only pre-batch index state, and each
append skips itself when its table already carries this batch id — so
a kill at any point replays to byte-identical state.  The first batch
bootstraps an empty index (same code path; batch-internal pairs still
emitted).

The handler leaves compaction to ``jobs/dedup_index.py maintain``,
which rewrites the index tables that per-batch appends fragment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.incremental import (BUCKET_SUFFIX, SIG_SUFFIX,
                                     append_batch_to_index, batch_index_rows,
                                     create_minhash_index,
                                     incremental_minhash_pairs)
from ..sinks.icebergish import IcebergishCatalog

PAIRS_TABLE = "dedup_pairs_batch_%06d"


class StreamingDeduper:
    """foreachBatch handler: batch vs persisted-index near-dup pairs."""

    def __init__(self, warehouse: str, name: str = "docs_minhash",
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.9, n: int = 3,
                 num_hashes: int = 32, bands: int = 8,
                 assign_keepers: bool = False):
        self.warehouse = warehouse
        self.name = name
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        from ..functions.dedup import validate_lsh_params
        validate_lsh_params(num_hashes, bands)
        self.params = {"n": n, "num_hashes": num_hashes, "bands": bands}
        #: also maintain the append-only keeper/remap cluster state per
        #: batch (incremental_keeper_assign) — the full dedup DECISION
        #: on the stream, not just pair detection
        self.assign_keepers = assign_keepers

    def replay_applied(self, batch: DataFrame, batch_id: int,
                       catalog: IcebergishCatalog | None = None) -> bool:
        """Bootstrap an empty index when absent; return True when
        ``batch_id`` is already applied (genuine replay — caller must
        skip ALL its commits, including any snapshots of its own, so a
        replay cannot clobber committed state); raise on a
        checkpoint/warehouse mismatch.  Runs BEFORE any caller-side
        write by contract."""
        catalog = catalog or IcebergishCatalog(self.warehouse,
                                               batch.sparkSession)
        buckets = catalog.current_manifest(self.name + BUCKET_SUFFIX)
        if buckets is None:
            # bootstrap an EMPTY index so batch 0 runs the same
            # incremental path as every later batch
            create_minhash_index(catalog, self.name, batch.limit(0),
                                 self.id_col, self.text_col,
                                 **self.params)
            return False
        if buckets["properties"].get("last_batch_id", -1) >= batch_id:
            # either a genuine foreachBatch replay of an applied batch
            # (skip silently) — or a FRESH stream checkpoint pointed at
            # an old warehouse, where Spark restarts batch ids at 0 and
            # skipping would silently drop brand-new data.  A replay
            # redelivers the same documents, so every id is already in
            # the index; a checkpoint reset delivers ids the index has
            # never seen (ids are globally unique by contract) — one
            # broadcast anti-join distinguishes the two.
            missing = (batch.select(F.col(self.id_col).alias("id"))
                       .join(catalog.read(self.name + SIG_SUFFIX)
                             .select("id"), "id", "left_anti")
                       .limit(1).count())
            if missing:
                raise RuntimeError(
                    "dedup stream checkpoint/warehouse mismatch: batch "
                    "%d carries ids the index (last_batch_id=%s) has "
                    "never seen — the stream checkpoint was reset "
                    "against an existing warehouse.  Restart with the "
                    "original checkpoint, or a fresh warehouse."
                    % (batch_id,
                       buckets["properties"].get("last_batch_id")))
            return True
        return False

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        catalog = IcebergishCatalog(self.warehouse, batch.sparkSession)
        if self.replay_applied(batch, batch_id, catalog):
            return
        if self.assign_keepers:
            # pairs + keeper/remap/index commits in one guarded step;
            # the per-batch pair snapshot is not separately materialized
            # on this path (the keeper state is the product)
            from ..functions.incremental import incremental_keeper_assign
            incremental_keeper_assign(
                catalog, self.name, batch, self.id_col, self.text_col,
                threshold=self.threshold, batch_id=batch_id)
            return
        # sign the batch ONCE; pair join and index append share it
        pre = batch_index_rows(catalog, self.name, batch,
                               self.id_col, self.text_col)
        pairs = incremental_minhash_pairs(
            catalog, self.name, batch, self.id_col, self.text_col,
            threshold=self.threshold, commit=False,
            precomputed=pre).localCheckpoint()
        catalog.write(PAIRS_TABLE % batch_id, pairs, lineage_key="id_a")
        append_batch_to_index(catalog, self.name, batch_id=batch_id,
                              precomputed=pre)


def stream_documents(spark: SparkSession, input_dir: str, warehouse: str,
                     checkpoint_dir: str, schema: str | None = None,
                     **dedup_kwargs):
    """Drain a documents directory through a streaming dedup, one file
    per micro-batch.  ``schema`` defaults to the driver documents
    shape."""
    deduper = StreamingDeduper(warehouse, **dedup_kwargs)
    source = (spark.readStream
              .schema(schema or "doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .parquet(input_dir))
    query = (source.writeStream
             .foreachBatch(deduper.process_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
    query.awaitTermination()
    return query


def streamed_pairs(spark: SparkSession, warehouse: str) -> DataFrame:
    """Union of all committed per-batch pair snapshots."""
    catalog = IcebergishCatalog(warehouse, spark)
    out = None
    for t in catalog.tables("dedup_pairs_batch_"):
        df = catalog.read(t)
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise FileNotFoundError("no dedup_pairs_batch_* snapshots in %s"
                                % warehouse)
    return out
