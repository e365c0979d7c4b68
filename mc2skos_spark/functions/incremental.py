"""Incremental MinHash dedup against a persisted signature index.

The production 100 TB shape: the corpus's MinHash signatures and their
banded LSH buckets are computed ONCE and persisted through the catalog
(``sinks/icebergish.py`` — same call surface as an Iceberg table); each
arriving batch signs only its own documents, equi-joins its banded
buckets against the *persisted* index (corpus side never recomputed,
never rewritten — ``catalog.append`` adds only the batch's files), and
emits near-duplicate pairs

* batch × corpus — new docs duplicating something already ingested, and
* batch × batch — duplicates inside the arriving batch itself,

then commits the batch's signatures/buckets into the index so the next
batch sees them.  Candidate generation stays an equi-join on
``(band, bucket)`` (linear in batch size + bucket cohabitants, never
all-pairs over the corpus), and the pair scoring is the SAME
``minhash_similarity`` join the from-scratch path uses — the module's
exact-equality contract with ``dedup_minhash_lsh`` holds by
construction, not by parallel re-implementation.

Signing parameters (``n``, ``num_hashes``, ``bands``) are recorded in
the index manifest's properties at creation and re-read per batch, so a
batch can never be signed with different parameters than the corpus it
joins against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sinks.icebergish import IcebergishCatalog
from .dedup import minhash_banded, minhash_signatures, minhash_similarity

#: table-name suffixes under one logical index name
SIG_SUFFIX = "_sigs"
BUCKET_SUFFIX = "_buckets"
KEEPER_SUFFIX = "_keepers"
REMAP_SUFFIX = "_keeper_remap"


def create_minhash_index(catalog: IcebergishCatalog, name: str,
                         df: DataFrame, id_col: str, text_col: str,
                         n: int = 3, num_hashes: int = 32,
                         bands: int = 8) -> dict:
    """Sign the seed corpus and commit the two index tables:
    ``<name>_sigs (id, sig)`` and ``<name>_buckets (id, band, bucket)``.
    Returns the buckets manifest."""
    from .dedup import validate_lsh_params
    validate_lsh_params(num_hashes, bands)
    props = {"minhash_n": n, "minhash_num_hashes": num_hashes,
             "minhash_bands": bands}
    sigs = minhash_signatures(df, id_col, text_col, n=n,
                              num_hashes=num_hashes)
    catalog.write(name + SIG_SUFFIX, sigs, lineage_key="id",
                  properties=props)
    banded = minhash_banded(catalog.read(name + SIG_SUFFIX), bands)
    return catalog.write(name + BUCKET_SUFFIX, banded, lineage_key="id",
                         properties=props)


def index_params(catalog: IcebergishCatalog, name: str) -> dict:
    manifest = catalog.current_manifest(name + BUCKET_SUFFIX)
    if manifest is None:
        raise FileNotFoundError("no committed minhash index %r" % name)
    p = manifest["properties"]
    return {"n": p["minhash_n"], "num_hashes": p["minhash_num_hashes"],
            "bands": p["minhash_bands"]}


def batch_index_rows(catalog: IcebergishCatalog, name: str,
                     batch: DataFrame, id_col: str, text_col: str
                     ) -> tuple[DataFrame, DataFrame]:
    """Sign ONE batch with the index's committed parameters:
    ``(sigs, buckets)``, both lazily checkpointed so every consumer
    (candidate join, similarity lookups, the index appends) shares one
    materialization — the batch is shingled and hashed exactly once."""
    params = index_params(catalog, name)
    sigs = minhash_signatures(batch, id_col, text_col, n=params["n"],
                              num_hashes=params["num_hashes"]
                              ).localCheckpoint(eager=False)
    buckets = (minhash_banded(sigs, params["bands"])
               .localCheckpoint(eager=False))
    return sigs, buckets


def append_batch_to_index(catalog: IcebergishCatalog, name: str,
                          precomputed: tuple[DataFrame, DataFrame],
                          batch_id: int | None = None) -> None:
    """Append one batch's signatures + buckets (``precomputed``, from
    ``batch_index_rows``: the rows the pair join already signed) to the
    index, guarded per table by ``last_batch_id`` so a REPLAY of an
    already-applied batch id is a no-op (exactly-once per table even
    when a kill lands between the two appends)."""
    new_sigs, new_buckets = precomputed
    for suffix, df in ((SIG_SUFFIX, new_sigs), (BUCKET_SUFFIX, new_buckets)):
        _guarded_append(catalog, name + suffix, df, "id", batch_id)


def _guarded_append(catalog: IcebergishCatalog, table: str,
                    df: DataFrame, lineage_key: str,
                    batch_id: int | None) -> None:
    """Append unless this table already carries ``batch_id`` — the
    exactly-once-per-table guard every append-only incremental table
    shares (index, keepers, remaps)."""
    manifest = catalog.current_manifest(table)
    last = (manifest or {}).get("properties", {}).get("last_batch_id", -1)
    if batch_id is not None and last >= batch_id:
        return  # replay of an applied batch: leave the snapshot
    props = {} if batch_id is None else {"last_batch_id": batch_id}
    catalog.append(table, df, lineage_key=lineage_key, properties=props)


def incremental_minhash_pairs(catalog: IcebergishCatalog, name: str,
                              batch: DataFrame, id_col: str,
                              text_col: str,
                              threshold: float = 0.9,
                              commit: bool = True,
                              batch_id: int | None = None,
                              precomputed: tuple[DataFrame, DataFrame] |
                              None = None) -> DataFrame:
    """Near-duplicate pairs for one arriving batch vs the persisted
    index (plus batch-internal pairs), ``(id_a, id_b, est_jaccard)``
    with ``id_a < id_b``; ids must be globally unique across batches.

    ``commit=True`` appends the batch's signatures and buckets to the
    index (new snapshot referencing the prior files — the corpus is not
    rewritten) AFTER materializing the pair result, so a kill before
    the append leaves the index at the previous snapshot and the batch
    can simply be re-run (same idempotence contract as the pipeline
    stages).  Pass ``batch_id`` to make the commit replay-safe: a rerun
    of an already-committed batch id skips the append instead of
    double-ingesting the signatures (the guard an external retrying
    orchestrator needs).
    """
    if precomputed is None:
        precomputed = batch_index_rows(catalog, name, batch,
                                       id_col, text_col)
    new_sigs, new_buckets = precomputed
    corpus_sigs = catalog.read(name + SIG_SUFFIX)
    corpus_buckets = catalog.read(name + BUCKET_SUFFIX)

    # Replay robustness: if a prior half-applied run already appended
    # this batch's rows to ONE of the index tables (kill between the
    # two appends), the corpus side would carry the batch ids and the
    # scoring join would emit duplicate rows.  Anti-join the batch ids
    # off the corpus side — broadcast (the id column of one batch),
    # so it stays a map-side filter over the corpus scan.
    new_ids = F.broadcast(new_sigs.select("id"))
    corpus_sigs = corpus_sigs.join(new_ids, "id", "left_anti")
    corpus_buckets = corpus_buckets.join(new_ids, "id", "left_anti")

    # batch × (corpus ∪ batch): dedup against everything already
    # ingested AND inside the arriving batch — one equi-join, the
    # right side unions the PERSISTED corpus buckets (scan, no
    # recompute) with the batch's own
    right = corpus_buckets.unionByName(new_buckets)
    cand = (new_buckets.alias("a")
            .join(right.alias("b"), ["band", "bucket"])
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"))
            .distinct())

    # the SAME scorer as the from-scratch LSH path (functions/dedup.py)
    all_sigs = corpus_sigs.unionByName(new_sigs)
    pairs = (minhash_similarity(all_sigs, cand)
             .filter(F.col("est_jaccard") >= threshold))

    if commit:
        pairs = pairs.localCheckpoint()  # materialize BEFORE the commit
        append_batch_to_index(catalog, name, batch_id=batch_id,
                              precomputed=precomputed)
    return pairs


# ----------------------------------------------------- keeper decision

def resolve_remap(remap: DataFrame) -> DataFrame:
    """Follow keeper-remap chains to their final target: ``(old, new)``
    rows where a later batch may have remapped ``new`` again →
    ``(old, final)``.  Pointer jumping over the (tiny — one row per
    historical cluster merge) remap table: O(log chain length) rounds,
    each one self-join.

    Same loop shape as the graph loops: each round's table is a lazy
    checkpoint carrying a ``chg`` flag, and the count of changed rows
    is the round's one action — it materializes the checkpoint and
    answers convergence.  A remap cycle never converges (every round
    flags a hop), so the loop raises ``RuntimeError`` after 20 rounds
    (chains up to 2^20 links resolve) instead of returning a partial
    resolution."""
    rounds = 20
    resolved = remap.select("old", "new").localCheckpoint(eager=False)
    for _ in range(rounds):
        nxt = (resolved.alias("a")
               .join(resolved.select(F.col("old").alias("new"),
                                     F.col("new").alias("hop"))
                     .alias("b"), "new", "left")
               .select("old", F.coalesce("hop", "new").alias("new"),
                       F.col("hop").isNotNull().alias("chg"))
               .localCheckpoint(eager=False))
        changed = nxt.filter("chg").count()
        resolved = nxt.select("old", "new")
        if changed == 0:
            return resolved
    raise RuntimeError(
        "keeper remap did not converge in %d rounds (a remap cycle?)"
        % rounds)


def current_keepers(catalog: IcebergishCatalog, name: str) -> DataFrame:
    """The resolved ``(id, keeper_id)`` assignment for every ingested
    document: the appended per-batch assignments with all historical
    cluster-merge remaps applied."""
    keepers = catalog.read(name + KEEPER_SUFFIX)
    if not catalog.exists(name + REMAP_SUFFIX):
        return keepers
    remap = resolve_remap(catalog.read(name + REMAP_SUFFIX))
    return (keepers
            .join(F.broadcast(remap.withColumnRenamed("old", "keeper_id")),
                  "keeper_id", "left")
            .select("id", F.coalesce("new", "keeper_id")
                    .alias("keeper_id")))


def keeper_updates(pairs: DataFrame, assigned: DataFrame,
                   batch_ids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The pure graph step of the incremental dedup DECISION.

    ``pairs``: this batch's near-dup pairs (id_a, id_b) — batch×corpus
    and batch×batch.  ``assigned``: the RESOLVED existing (id,
    keeper_id) assignment.  ``batch_ids``: (id) of the arriving docs.

    Returns ``(batch_assign, remap)``:

    * ``batch_assign`` — (id, keeper_id) for every batch doc
      (singletons keep themselves);
    * ``remap`` — (old, new) for every EXISTING cluster whose keeper
      changed because the batch linked it to a smaller id or merged it
      with another cluster.  Downstream readers apply remaps instead of
      rewriting the historical assignment rows (append-only at scale).

    Correctness leans on the keeper invariant *keeper = min id of its
    cluster*: an old cluster is represented in the component graph by
    its keeper vertex alone (every edge to a corpus doc is routed
    through its keeper), so the component minimum equals the minimum
    over ALL members, touched or not.
    """
    from ..operators.canonicalize import connected_components

    touched = (pairs.select(F.col("id_a").alias("id"))
               .unionByName(pairs.select(F.col("id_b").alias("id")))
               .distinct()
               .join(assigned, "id"))  # corpus ids in pairs + keepers
    # route every corpus endpoint through its cluster keeper
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(touched.select(F.col("id").alias("src"),
                                         F.col("keeper_id").alias("dst"))))
    comp = connected_components(edges)  # comp = min vertex
    batch_assign = (batch_ids
                    .join(comp.withColumnRenamed("vertex", "id"),
                          "id", "left")
                    .select("id", F.coalesce("comp", F.col("id"))
                            .alias("keeper_id")))
    old_keepers = touched.select(F.col("keeper_id").alias("old")).distinct()
    remap = (old_keepers
             .join(comp.withColumnRenamed("vertex", "old"), "old")
             .filter(F.col("comp") != F.col("old"))
             .select("old", F.col("comp").alias("new"))
             .distinct())
    return batch_assign, remap


def incremental_keeper_assign(catalog: IcebergishCatalog, name: str,
                              batch: DataFrame, id_col: str,
                              text_col: str, threshold: float = 0.9,
                              batch_id: int | None = None,
                              commit: bool = True) -> DataFrame:
    """The full incremental dedup DECISION for one batch: near-dup
    pairs vs the persisted index (``incremental_minhash_pairs``) →
    keeper assignment for the batch against the persisted cluster
    state → append-only commit of the batch's assignments, any cluster
    remaps, and the batch's signatures.

    Returns the batch's ``(id, keeper_id)`` rows (keep ``id ==
    keeper_id`` downstream).  After N batches,
    ``current_keepers(catalog, name)`` over the appended state equals
    the from-scratch ``near_dup_keepers`` over the full corpus —
    including cross-batch merges of previously-separate clusters
    (pytest-asserted).
    """
    pre = batch_index_rows(catalog, name, batch, id_col, text_col)
    pairs = incremental_minhash_pairs(
        catalog, name, batch, id_col, text_col, threshold=threshold,
        commit=False, precomputed=pre).localCheckpoint()
    batch_assign = _assign_and_commit_keepers(
        catalog, name, pairs, batch.select(F.col(id_col).alias("id")),
        batch_id, commit)
    if commit:
        append_batch_to_index(catalog, name, batch_id=batch_id,
                              precomputed=pre)
    return batch_assign


def _assign_and_commit_keepers(catalog: IcebergishCatalog, name: str,
                               pairs: DataFrame, batch_ids: DataFrame,
                               batch_id: int | None,
                               commit: bool) -> DataFrame:
    """The index-agnostic half of the keeper decision, shared by the
    MinHash and semantic paths: batch pairs + persisted cluster state →
    keeper assignment + remaps, committed append-only under the same
    per-table ``last_batch_id`` replay guard."""
    if catalog.exists(name + KEEPER_SUFFIX):
        assigned = current_keepers(catalog, name)
    else:
        assigned = pairs.sparkSession.createDataFrame(
            [], "id long, keeper_id long")
    batch_assign, remap = keeper_updates(pairs, assigned, batch_ids)
    batch_assign = batch_assign.localCheckpoint()
    remap = remap.localCheckpoint()
    if commit:
        _guarded_append(catalog, name + KEEPER_SUFFIX, batch_assign,
                        "id", batch_id)
        if remap.count() or catalog.exists(name + REMAP_SUFFIX):
            _guarded_append(catalog, name + REMAP_SUFFIX, remap,
                            "old", batch_id)
    return batch_assign


# --------------------------------------------- semantic (embedding) index
#
# The SemDeDup counterpart of the MinHash index above (Abbas et al.
# 2023): the persisted state is one row per ingested document —
# ``(id, centroid, vn)``, its assigned centroid bucket and its
# unit-normalized embedding — plus the K-row centroid table picked once
# from the seed corpus and held FIXED for the index's lifetime (every
# batch must bucket against the same partition of the space, or
# cross-batch near-pairs straddling a centroid re-pick would be
# missed).  Each arriving batch is assigned via the same broadcast-
# matrix matmul-argmax as the from-scratch path
# (``similarity.assign_nearest_centroid``) and scored against its
# centroid bucket ONLY — candidate generation stays an equi-join on
# ``centroid``, linear in batch size + bucket cohabitants, never
# all-pairs over the corpus.

VEC_SUFFIX = "_vecs"
CENTROID_SUFFIX = "_centroids"


def _assign_unit(df: DataFrame, centroids: list[tuple],
                 id_col: str, vec_col: str) -> DataFrame:
    """``(id, vn, centroid)``: unit-normalize once per row, assign via
    the broadcast centroid matrix.  The SAME two steps (and helpers) as
    the from-scratch ``semantic_dedup_pairs``, so incremental == batch
    holds by construction when the centroid sets agree."""
    from .similarity import assign_nearest_centroid, unit_vector

    base = df.select(
        F.col(id_col).alias("id"),
        unit_vector(F.col(vec_col).cast("array<double>")).alias("vn"))
    return assign_nearest_centroid(base, centroids, "vn", "centroid",
                                   normalize_input=False)


def create_semantic_index(catalog: IcebergishCatalog, name: str,
                          df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          num_centroids: int = 16,
                          centroid_mod: int = 8,
                          centroid_source: DataFrame | None = None
                          ) -> dict:
    """Pick centroids (``similarity.arithmetic_centroids`` over
    ``centroid_source``, default the seed itself), persist them as
    ``<name>_centroids``, assign + unit-normalize the seed corpus and
    commit ``<name>_vecs``.  ``centroid_source`` exists for the
    streaming bootstrap: the index is created EMPTY (``df =
    batch.limit(0)``) with centroids from the first batch, which then
    flows through the same incremental path as every later batch."""
    from .similarity import arithmetic_centroids

    cents = arithmetic_centroids(centroid_source if centroid_source
                                 is not None else df,
                                 num_centroids, centroid_mod,
                                 id_col, vec_col)
    props = {"num_centroids": num_centroids,
             "centroid_mod": centroid_mod}
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cid long, cvec array<double>")
    catalog.write(name + CENTROID_SUFFIX, cent_df, lineage_key="cid",
                  properties=props)
    return catalog.write(name + VEC_SUFFIX,
                         _assign_unit(df, cents, id_col, vec_col),
                         lineage_key="id", properties=props)


def read_centroids(catalog: IcebergishCatalog, name: str) -> list[tuple]:
    """The index's committed centroid list (metadata-scale: K rows)."""
    if not catalog.exists(name + CENTROID_SUFFIX):
        raise FileNotFoundError("no committed semantic index %r" % name)
    rows = catalog.read(name + CENTROID_SUFFIX).collect()
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


def batch_vec_rows(catalog: IcebergishCatalog, name: str,
                   batch: DataFrame, id_col: str,
                   vec_col: str) -> DataFrame:
    """Assign ONE batch against the index's committed centroids,
    lazily checkpointed so the pair join and the index append share a
    single normalize+assign materialization."""
    cents = read_centroids(catalog, name)
    return (_assign_unit(batch, cents, id_col, vec_col)
            .localCheckpoint(eager=False))


def append_batch_to_semantic_index(catalog: IcebergishCatalog,
                                   name: str,
                                   precomputed: DataFrame,
                                   batch_id: int | None = None) -> None:
    """Append one batch's ``(id, centroid, vn)`` rows, replay-guarded
    per table by ``last_batch_id`` (same contract as the MinHash
    index)."""
    _guarded_append(catalog, name + VEC_SUFFIX, precomputed, "id",
                    batch_id)


def incremental_semantic_pairs(catalog: IcebergishCatalog, name: str,
                               batch: DataFrame,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               threshold: float = 0.97,
                               commit: bool = True,
                               batch_id: int | None = None,
                               precomputed: DataFrame | None = None
                               ) -> DataFrame:
    """Semantic near-dup pairs for one arriving batch vs the persisted
    index (plus batch-internal pairs): ``(id_a, id_b, centroid,
    cosine)`` with ``id_a < id_b``, cosine floor-truncated to 4
    decimals, ≥ threshold; ids must be globally unique across batches.

    Scoring searches the batch's centroid BUCKETS only — one equi-join
    on ``centroid`` against (persisted corpus ∪ batch), exactly the
    from-scratch ``semantic_dedup_pairs`` restricted to pairs touching
    the batch; each candidate pair costs one dot product (both sides
    pre-normalized).  The commit/replay contract is the MinHash one:
    pairs materialize before the append, a half-applied replay is
    anti-joined off the corpus side, ``batch_id`` makes the append
    exactly-once."""
    if precomputed is None:
        precomputed = batch_vec_rows(catalog, name, batch,
                                     id_col, vec_col)
    new_vecs = precomputed
    corpus = catalog.read(name + VEC_SUFFIX)
    new_ids = F.broadcast(new_vecs.select("id"))
    corpus = corpus.join(new_ids, "id", "left_anti")

    from .similarity import _dot
    right = corpus.unionByName(new_vecs)
    thr = int(round(threshold * 10000))
    # batch×batch pairs arrive twice (a,b swapped); least/greatest +
    # the commutative, identically-ordered dot fold make both rows
    # byte-identical, so distinct() collapses them
    scored = (new_vecs.alias("a")
              .join(right.alias("b"), "centroid")
              .filter(F.col("a.id") != F.col("b.id"))
              .select(F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                      F.greatest(F.col("a.id"),
                                 F.col("b.id")).alias("id_b"),
                      "centroid",
                      F.floor(_dot(F.col("a.vn"), F.col("b.vn"))
                              * 10000).alias("_c4"))
              .distinct())
    pairs = (scored.filter(F.col("_c4") >= thr)
             .select("id_a", "id_b", "centroid",
                     (F.col("_c4").cast("double") / 10000)
                     .alias("cosine")))
    if commit:
        pairs = pairs.localCheckpoint()  # materialize BEFORE the commit
        append_batch_to_semantic_index(catalog, name, precomputed,
                                       batch_id=batch_id)
    return pairs


def incremental_semantic_keeper_assign(catalog: IcebergishCatalog,
                                       name: str, batch: DataFrame,
                                       id_col: str = "vec_id",
                                       vec_col: str = "embedding",
                                       threshold: float = 0.97,
                                       batch_id: int | None = None
                                       ) -> DataFrame:
    """The full incremental SemDeDup DECISION for one batch — the
    embedding twin of :func:`incremental_keeper_assign`, sharing the
    same keeper/remap state machinery (``keeper_updates`` /
    ``current_keepers`` / the pointer-jumped remap chains).  After N
    batches, ``current_keepers(catalog, name)`` equals the from-scratch
    ``semantic_dedup_keepers`` over the full corpus whenever the
    centroid sets agree (pytest-asserted, including a cross-batch
    cluster merge)."""
    pre = batch_vec_rows(catalog, name, batch, id_col, vec_col)
    pairs = incremental_semantic_pairs(
        catalog, name, batch, id_col, vec_col, threshold=threshold,
        commit=False, precomputed=pre).localCheckpoint()
    batch_assign = _assign_and_commit_keepers(
        catalog, name, pairs, batch.select(F.col(id_col).alias("id")),
        batch_id, True)
    append_batch_to_semantic_index(catalog, name, pre, batch_id=batch_id)
    return batch_assign
