"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (what survives 100 TB):

* **exact** — one hash aggregate on the full text (or a fingerprint
  column to avoid shuffling long strings);
* **n-gram Jaccard** — shingle → explode → self-join on shingle →
  per-pair intersection counts → Jaccard.  The shingle join is the
  classic quadratic trap; at scale you cap per-shingle frequency
  (drop stop-shingles) before joining — exposed as ``max_shingle_freq``;
* **MinHash + LSH** — signatures via ``xxhash64(shingle, seed)`` min-
  aggregated per doc (JVM-side, no Python), banded into buckets, and
  only bucket-cohabitants are pair-joined: candidate generation is
  linear in data size, the join is on (band, bucket-hash);
* **SimHash** — 64-bit weighted-bit signature via bit arithmetic on
  token hashes; near-dups are signatures within Hamming distance k,
  paired by pigeonhole banding (k+1 signature blocks, equi-join on any
  identical block) — never an all-pairs scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def shingles(col, n: int = 3):
    """Word n-gram shingles as distinct strings.

    Texts with fewer than ``n`` tokens produce an *empty* array (no
    degenerate single-token / empty-string shingle): a pair of short
    docs must not score jaccard=1.0 on garbage shingles.

    The token array is bound to a lambda variable (via
    ``textstats._once``) so the tokenization runs once per row, not
    once per reference — Catalyst does not CSE across HOF bodies.
    """
    from .textstats import _once

    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")

    def shingles_of(tk):
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        full = F.array_distinct(
            F.transform(idx,
                        lambda i: F.array_join(F.slice(tk, i + 1, n), " ")))
        return F.when(F.size(tk) >= n, full) \
                .otherwise(F.array().cast("array<string>"))

    return _once(toks, shingles_of, F.array().cast("array<string>"))


def hashed_shingles(col, n: int = 3):
    """Distinct word n-gram shingles as 64-bit hashes: same semantics
    as :func:`shingles` but the distinct/join key is a long — the hash
    is taken over the token TUPLE (variadic ``xxhash64``), so no
    intermediate shingle string is ever built, the per-doc distinct
    runs on fixed-width longs, and downstream equi-joins exchange 8
    bytes per key instead of the shingle text.  Tokens cannot contain
    whitespace (they come from a whitespace split), so tuple identity
    ≡ joined-string identity; a 64-bit cross-doc collision admits one
    spurious candidate pair for re-rank, never a missed one.
    """
    from .textstats import _once

    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")

    def shingles_of(tk):
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        full = F.array_distinct(
            F.transform(idx,
                        lambda i: F.xxhash64(*[F.element_at(tk, i + 1 + j)
                                               for j in range(n)])))
        return F.when(F.size(tk) >= n, full) \
                .otherwise(F.array().cast("array<long>"))

    return _once(toks, shingles_of, F.array().cast("array<long>"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: (keeper_id, dup_count).

    Groups by sha2-256(text), not the text itself, so the shuffle
    carries a 32-byte digest per document instead of the document —
    the difference between shuffling ~100 TB and ~30 GB at corpus
    scale.  Identical output (a 256-bit collision would need ~2^128
    docs); the SQL oracle keeps GROUP BY text.
    """
    return (df.groupBy(F.sha2(F.col(text_col), 256).alias("__digest"))
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
            .select("keeper_id", "dup_count"))


def jaccard_pairs_from_shingles(sh: DataFrame, threshold: float,
                                max_shingle_freq: int | None = 100,
                                a_col: str = "id_a", b_col: str = "id_b",
                                score_col: str = "jaccard") -> DataFrame:
    """(id, sh) rows — one row per DISTINCT shingle per id — →
    (a_col, b_col, score_col) pairs with set Jaccard ≥ threshold
    (a < b).  The shared scorer behind both text near-dup detection
    (``ngram_jaccard_pairs``) and entity-link label scoring
    (``operators/linking.py``): stop-shingle cap before the self-join,
    per-pair intersection counts, sizes joined back."""
    if max_shingle_freq:
        hot = (sh.groupBy("sh").count()
               .filter(F.col("count") > max_shingle_freq).select("sh"))
        sh = sh.join(hot, "sh", "left_anti")
    # the capped shingle table feeds FOUR consumers (both sides of the
    # pair self-join + both size lookups): without a lineage cut the
    # whole shingle explode + stop-shingle anti-join subtree is
    # recomputed per consumer (seen in the captured el_label_links
    # plan, docs/PLANS.md) — materialize it once, lazily
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (sh.alias("a").join(sh.alias("b"), "sh")
             .filter(F.col("a.id") < F.col("b.id"))
             .groupBy(F.col("a.id").alias(a_col),
                      F.col("b.id").alias(b_col))
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("id", a_col)
                       .withColumnRenamed("sz", "sz_a"), a_col)
            .join(sizes.withColumnRenamed("id", b_col)
                       .withColumnRenamed("sz", "sz_b"), b_col)
            .select(a_col, b_col,
                    F.round(F.col("inter") /
                            (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                            4).alias(score_col))
            .filter(F.col(score_col) >= threshold))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_shingle_freq: int | None = 100) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with Jaccard(shingles) ≥ threshold."""
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(shingles(F.col(text_col), n)).alias("sh")))
    return jaccard_pairs_from_shingles(sh, threshold, max_shingle_freq)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_hashes: int = 32) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures, fully JVM-side."""
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles(F.col(text_col), n).alias("shs"))
          # a <n-token doc has no shingles and no meaningful signature;
          # a fold over empty would keep the +inf seeds that all
          # co-bucket — drop such docs instead
          .filter(F.size("shs") > 0))
    # ONE traversal of the shingle array; the accumulator is the
    # num_hashes-wide running-minimum vector.  The seed MUST be closed
    # over as a literal inside a 1-arg comprehension — a defaulted
    # second lambda parameter (lambda s, seed=i: …) silently binds to
    # the HOF's array-index variable and every "seeded" hash becomes
    # the same function.
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    sig = F.aggregate(
        F.col("shs"), init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, h: F.least(a, h)))
    return sh.select("id", sig.alias("sig"))


def validate_lsh_params(num_hashes: int, bands: int) -> None:
    """Fail fast on degenerate banding: ``bands > num_hashes`` floors
    rows_per_band to 0, so every band hashes the empty slice and EVERY
    document co-buckets — the candidate join degenerates to an n²/2
    cross product.  Non-divisible values silently ignore the trailing
    ``num_hashes % bands`` hashes, weakening the similarity estimate."""
    if bands < 1 or bands > num_hashes:
        raise ValueError("LSH banding: bands=%d must be in [1, "
                         "num_hashes=%d]" % (bands, num_hashes))
    if num_hashes % bands:
        raise ValueError("LSH banding: num_hashes=%d is not divisible "
                         "by bands=%d (the trailing %d hashes would be "
                         "silently ignored)"
                         % (num_hashes, bands, num_hashes % bands))


def minhash_banded(signatures: DataFrame, bands: int) -> DataFrame:
    """(id, sig) → (id, band, bucket): the banded LSH index rows.

    Factored out of the self-join candidate path so an incremental
    batch can be banded IDENTICALLY to a persisted corpus index and
    equi-joined against it without recomputing the corpus side
    (functions/incremental.py)."""
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    return signatures.select(
        "id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(F.concat_ws(
                ",", F.transform(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string")))))).alias("band", "bucket"))


def minhash_lsh_candidates(signatures: DataFrame, bands: int = 8) -> DataFrame:
    """Band the signatures and emit co-bucketed candidate pairs."""
    banded = minhash_banded(signatures, bands)
    return (banded.alias("a")
            .join(banded.alias("b"), ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())


def minhash_similarity(signatures: DataFrame,
                       candidates: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal minhashes."""
    sigs = signatures
    return (candidates
            .join(sigs.withColumnRenamed("id", "id_a")
                      .withColumnRenamed("sig", "sig_a"), "id_a")
            .join(sigs.withColumnRenamed("id", "id_b")
                      .withColumnRenamed("sig", "sig_b"), "id_b")
            .select("id_a", "id_b",
                    F.round(
                        F.size(F.filter(
                            F.zip_with("sig_a", "sig_b",
                                       lambda x, y: x == y),
                            lambda eq: eq)) / F.size("sig_a"),
                        4).alias("est_jaccard")))


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                             num_planes: int = 0,
                             dim: int | None = None,
                             multiprobe: int = 0) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine ≥ t).

    ``num_planes=0`` — exact all-pairs (the small-N / verification
    path); ``num_planes>0`` — the 100 TB path: random-hyperplane LSH
    buckets, candidate pairs restricted to rows whose bucket signatures
    differ in at most ``multiprobe`` bits (side A exploded to its
    Hamming-ball probe buckets, equi-joined to side B's exact bucket —
    linear candidate generation, no cross product), then exact cosine
    rerank.  ``dim`` (the vector width) must be given on the bucketed
    path — deriving it would force a driver action on the input.
    """
    from .similarity import _planes, assign_lsh_buckets, cosine

    base = embeddings.select(F.col("vec_id").alias("id"),
                             F.col("embedding").cast("array<double>")
                             .alias("vec"))
    if num_planes:
        if dim is None:
            raise ValueError("dim is required when num_planes > 0")
        planes = _planes(dim, num_planes)
        # the bucketed table is referenced 4× (probe explode, bucket
        # join, two vector lookups): cut lineage once, lazily — the
        # staged pipeline would snapshot the signature table anyway
        base = (assign_lsh_buckets(base, planes, "vec", "bucket")
                .localCheckpoint(eager=False))
        # enumerate the Hamming ball directly (sum of C(num_planes, i)
        # deltas) — scanning all 2^num_planes ints would hang the
        # driver at the plane counts the scale path wants
        from itertools import combinations
        deltas = sorted({
            sum(1 << b for b in bits)
            for r in range(multiprobe + 1)
            for bits in combinations(range(num_planes), r)})
        probed = base.select(
            "id",
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(d))
                                for d in deltas])).alias("probe"))
        cand = (probed.alias("a")
                .join(base.select(F.col("id").alias("id_b"),
                                  F.col("bucket").alias("probe")), "probe")
                .filter(F.col("a.id") < F.col("id_b"))
                .select(F.col("a.id").alias("id_a"), "id_b")
                .distinct())
        vecs = base.select("id", "vec")
        pairs = (cand
                 .join(vecs.select(F.col("id").alias("id_a"),
                                   F.col("vec").alias("vec_a")), "id_a")
                 .join(vecs.select(F.col("id").alias("id_b"),
                                   F.col("vec").alias("vec_b")), "id_b"))
        cos = cosine(F.col("vec_a"), F.col("vec_b"))
        scored = pairs.select("id_a", "id_b",
                              F.floor(cos * 10000).cast("double")
                               .alias("cosine_e4"))
    else:
        pairs = (base.alias("a").join(
            base.alias("b"), F.col("a.id") < F.col("b.id")))
        scored = pairs.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.floor(cosine(F.col("a.vec"), F.col("b.vec")) * 10000)
             .cast("double").alias("cosine_e4"))
    return (scored
            .filter(F.col("cosine_e4") >= threshold * 10000)
            .select("id_a", "id_b",
                    (F.col("cosine_e4") / 10000).alias("cosine")))


# two's-complement bit masks: bit 63 is the (negative) sign bit
_BIT_MASKS = [(1 << b) - (1 << 64 if b == 63 else 0) for b in range(64)]


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Single traversal of the token-hash array: the accumulator is the
    64-vector of bit votes (``zip_with`` against a literal mask array),
    then one more zip folds votes → signature.  (The earlier shape —
    64 separate ``F.aggregate`` passes, one per bit — did ~64× the
    expression work per row.)
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    # token-less docs all hash to signature 0 and would co-bucket into
    # one quadratic clique in the banded pair join — they carry no
    # similarity signal, so drop them (route empties through exact
    # dedup instead); same guard as minhash_signatures
    df = df.filter(F.size(toks) > 0)
    votes = F.aggregate(
        hashes, F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != F.lit(0).cast("long"),
                                    F.lit(1)).otherwise(F.lit(-1))))
    # distinct single-bit masks → XOR fold == sum, but overflow-free
    sig = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m)
                                 .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x))
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def semantic_dedup_pairs(embeddings: DataFrame, num_centroids: int = 16,
                         threshold: float = 0.97, centroid_mod: int = 8,
                         dim: int | None = None) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space around K
    deterministic centroids, then search for cosine-near pairs WITHIN
    each cluster only — the all-pairs O(n²) drops to O(n²/K) and,
    crucially for Spark, the candidate join becomes an equi-join on the
    cluster id instead of a cross product.

    Scale: K grows with the corpus (pick K ≈ n / target_cluster_size,
    e.g. 50k clusters for 100M docs as in the paper) so per-cluster
    candidate sets stay bounded and the join key has enough cardinality
    to spread across executors; AQE's skew-join split covers residual
    hot clusters.  Centroid assignment is one broadcast-matrix
    matmul-argmax (:func:`~.similarity.assign_nearest_centroid`) whose
    plan size is O(1) in K.

    Returns ``(id_a, id_b, centroid, cosine)`` with cosine
    floor-truncated to 4 decimals, ``id_a < id_b``, cosine ≥ threshold.

    Cosine cost discipline: every vector is unit-normalized ONCE
    (norm bound per row), centroids are normalized driver-side, so
    assignment is K dot products and each candidate pair exactly one —
    no per-pair norm recomputation.  The assigned table is
    lineage-cut (lazy ``localCheckpoint``) because both sides of the
    self-join consume it.
    """
    from .similarity import (arithmetic_centroids,
                             assign_nearest_centroid, unit_vector)

    base = embeddings.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("_v"))
    cents = arithmetic_centroids(base, num_centroids, centroid_mod,
                                 "vec_id", "_v")
    # assignment ships the centroid matrix via a broadcast variable and
    # runs one matmul-argmax per Arrow batch — plan size O(1) in K, so
    # the paper-scale K (≈ n / target_cluster_size, e.g. 50k) is a data
    # question, not a plan-build one; centroids are unit-normalized
    # inside the helper and the input column is already unit (_vn), so
    # scores stay exact cosines
    assigned = (assign_nearest_centroid(
                    base.select(F.col("vec_id"),
                                unit_vector(F.col("_v")).alias("_vn")),
                    cents, "_vn", "_c", normalize_input=False)
                .localCheckpoint(eager=False))
    return within_centroid_pairs(assigned, threshold, dim=dim)


def within_centroid_pairs(assigned: DataFrame,
                          threshold: float = 0.97,
                          dim: int | None = None) -> DataFrame:
    """The quadratic half of SemDeDup over an ALREADY-assigned table
    ``(vec_id, _vn unit vector, _c centroid)``: within-cluster
    self-join on the centroid key, one dot product per candidate pair.
    Isolated from :func:`semantic_dedup_pairs` so skew evidence can
    stage a pathological assignment directly against the REAL operator
    (``bench.py --skew-semantic``: one hot centroid holding half the
    corpus — the shape AQE's skew-join split exists for).  Returns
    ``(id_a, id_b, centroid, cosine)`` with cosine floor-truncated to
    4 decimals, ``id_a < id_b``, cosine ≥ threshold.

    ``dim``: the expected vector width — when given, the per-pair dot
    runs as an unrolled codegen expression (same IEEE fold order;
    rows of any other width fall back to the HOF per row, so results
    are identical on every input) instead of an interpreted
    higher-order fold, and pairs that PROVABLY miss the threshold are
    rejected after only the first quarter of the fold: per-vector
    suffix norms bound the unseen remainder by Cauchy–Schwarz, with a
    1e-6 margin dwarfing the ≤1e-13 float error of the bound itself,
    so the skip can never drop a pair the full fold would keep — this
    is the hot expression of the whole SemDeDup plan (O(n²/K) pairs
    each paying one dot, of which ~0.1% typically pass)."""
    from .similarity import (_dot, _dot_fixed, _dot_prefix,
                             suffix_norm)

    thr = int(round(threshold * 10000))
    if dim:
        prefix = max(1, int(dim) // 4)
        assigned = assigned.withColumn(
            "_sn", suffix_norm(F.col("_vn"), prefix))
        a = assigned.select(F.col("vec_id").alias("id_a"),
                            F.col("_vn").alias("_vna"),
                            F.col("_sn").alias("_sna"), "_c")
        b = assigned.select(F.col("vec_id").alias("id_b"),
                            F.col("_vn").alias("_vnb"),
                            F.col("_sn").alias("_snb"), "_c")
        va, vb = F.col("_vna"), F.col("_vnb")
        bound = (_dot_prefix(va, vb, prefix)
                 + F.col("_sna") * F.col("_snb"))
        guarded = F.when(
            bound >= F.lit(float(threshold) - 1e-6),
            F.floor(_dot_fixed(va, vb, dim) * 10000))
        c4 = F.when((F.size(va) == int(dim)) & (F.size(vb) == int(dim)),
                    guarded).otherwise(F.floor(_dot(va, vb) * 10000))
    else:
        a = assigned.select(F.col("vec_id").alias("id_a"),
                            F.col("_vn").alias("_vna"), "_c")
        b = assigned.select(F.col("vec_id").alias("id_b"),
                            F.col("_vn").alias("_vnb"), "_c")
        c4 = F.floor(_dot(F.col("_vna"), F.col("_vnb")) * 10000)
    scored = (a.join(b, ["_c"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", F.col("_c").alias("centroid"),
                      c4.alias("_c4")))
    return (scored.filter(F.col("_c4") >= thr)
            .select("id_a", "id_b", "centroid",
                    (F.col("_c4").cast("double") / 10000).alias("cosine")))


def semantic_dedup_keepers(embeddings: DataFrame, num_centroids: int = 16,
                           threshold: float = 0.97, centroid_mod: int = 8,
                           dim: int | None = None) -> DataFrame:
    """The full SemDeDup decision: semantic pairs → connected components
    → min-id keeper per duplicate group; every input row gets a
    ``(id, keeper_id)`` verdict (unpaired rows keep themselves)."""
    pairs = semantic_dedup_pairs(embeddings, num_centroids, threshold,
                                 centroid_mod, dim=dim)
    return near_dup_keepers(embeddings, pairs, id_col="vec_id")


def near_dup_keepers(df: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs → per-document keeper assignment: the step that
    turns pair detection into an actual dedup decision.

    Near-duplicate similarity is not transitive, so clusters are the
    connected components of the pair graph (reusing the union-find loop
    from canonicalization, ``operators/canonicalize.py``); the keeper is
    the minimum id in each cluster; documents in no pair keep
    themselves.  Returns ``(id, keeper_id)`` for every input document —
    downstream keeps ``id == keeper_id`` rows only.
    """
    from ..operators.canonicalize import connected_components

    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    labels = connected_components(edges)  # comp = min id in component
    return (df.select(F.col(id_col).alias("id"))
            .join(labels.withColumnRenamed("vertex", "id"), "id", "left")
            .select("id", F.coalesce("comp", F.col("id"))
                    .alias("keeper_id")))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming``.

    Pigeonhole banding, not a cross join: split the 64-bit signature
    into ``max_hamming + 1`` contiguous blocks — two signatures within
    Hamming distance k must agree exactly on at least one of the k+1
    blocks — equi-join on (block index, block value), dedup the
    candidate pairs, popcount-filter.  Candidate generation is linear
    in docs-per-identical-block, never all-pairs.

    Scale bound on k: block width is ``64 // (k+1)`` bits, so each band
    has only ``2**width`` distinct values — at k=3 that is 16-bit
    blocks (65k values per band, fine), but by k=8 blocks are 7 bits
    wide (128 values), every (band, value) bucket holds ~n/128 docs,
    and the candidate join degrades toward O(n²/128) with hot shuffle
    keys.  Keep k ≤ 3 at scale; for larger radii recurse: band at k'≤3
    and re-split each oversized bucket on a second block (or switch to
    the multi-probe scheme used for embedding LSH).
    """
    bands = max_hamming + 1
    width = 64 // bands

    def band_val(b: int):
        start = b * width  # plain ints: shift amounts must be literals
        nbits = width if b < bands - 1 else 64 - start
        shifted = F.shiftrightunsigned(F.col("simhash"), start)
        if nbits >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << nbits) - 1).cast("long"))

    banded = sigs.select(
        "id", "simhash",
        F.posexplode(F.array(*[band_val(b) for b in range(bands)]))
         .alias("band", "bval"))
    cand = (banded.alias("a").join(banded.alias("b"), ["band", "bval"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sig_a"),
                    F.col("b.simhash").alias("sig_b"))
            .distinct())
    return (cand
            .select("id_a", "id_b",
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def repeated_substring_spans(df: DataFrame, window: int = 8,
                             min_docs: int = 2) -> DataFrame:
    """Exact repeated-substring detection, span-merged per document —
    the token-level counterpart of document-level dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": remove
    any long substring that recurs across the corpus, not just whole
    near-duplicate documents).

    Every ``window``-token sliding window whose content appears in at
    least ``min_docs`` DISTINCT documents marks the covering token span
    for removal; overlapping/adjacent flagged windows within a document
    are merged into maximal spans (the classic islands merge).  Returns
    ``(doc_id, span_start, span_end, n_windows)`` with token-index
    half-open spans.

    Scale shape (the suffix-array of the paper is a single-machine
    structure; this is its shuffle-native equivalent):

    * window enumeration is a pure projection + explode (zero shuffle),
      token array bound once per the repo HOF discipline;
    * windows travel as 8-byte ``xxhash64`` keys, never as text — the
      duplicate-window aggregate and the join back both shuffle hashes
      (the DuckDB oracle groups by the window TEXT instead, so the
      span compare also cross-checks the hash-key shortcut);
    * duplicate keys come from one hash aggregate
      (``count_distinct(doc) >= min_docs``) and are equi-joined back —
      the dup-key side is corpus-dependent, so the join strategy is
      left to the planner (broadcast only while stats say it fits;
      at corpus scale AQE degrades it to a shuffle join);
    * span merge is a per-document window function (partitioned by
      doc — no global sort, no driver state).
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError("repeated_substring_spans: window must be >= 2")
    if min_docs < 2:
        raise ValueError("repeated_substring_spans: min_docs must be >= 2")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: t != "")

    empty_wins = F.array().cast("array<struct<pos:int,wkey:bigint>>")

    def wins_of(tk):
        nwin = F.size(tk) - F.lit(window - 1)
        # variadic xxhash64 over the token TUPLE, not over a rebuilt
        # window string: tokens come from a whitespace split so tuple
        # identity ≡ joined-string identity (the hashed_shingles
        # argument), the grouping is unchanged, and the per-window
        # concat_ws allocation disappears — the key never leaves the
        # query (the oracle groups by window TEXT)
        seq = F.transform(
            F.sequence(F.lit(1), nwin, F.lit(1)),
            lambda i: F.struct(
                (i - 1).cast("int").alias("pos"),
                F.xxhash64(*[F.element_at(tk, i + j)
                             for j in range(window)])
                 .alias("wkey")))
        # short docs: sequence(1, n<1) is an illegal-boundary error, so
        # gate it (when() branches evaluate lazily per row)
        return F.when(nwin >= 1, seq).otherwise(empty_wins)

    wins = (df.select(
                F.col("doc_id"),
                F.explode(F.aggregate(
                    F.array(toks), empty_wins,
                    lambda acc, tk: wins_of(tk))).alias("w"))
            .select("doc_id", "w.pos", "w.wkey")
            # wins feeds the duplicate-key aggregate AND the join back:
            # one lazy lineage cut materializes the (id, pos, 8-byte
            # key) stream instead of re-running the tokenize + window
            # explode against the corpus per consumer
            .localCheckpoint(eager=False))

    dup_keys = (wins.groupBy("wkey")
                .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
                .filter(F.col("nd") >= min_docs)
                .select("wkey"))

    flagged = wins.join(dup_keys, "wkey").select(
        "doc_id", "pos", (F.col("pos") + window).alias("end"))

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    prior = (by_doc.rowsBetween(Window.unboundedPreceding, -1))
    islands = (flagged
               .withColumn("prev_max_end",
                           F.max("end").over(prior))
               .withColumn("new_island",
                           (F.col("pos")
                            > F.coalesce(F.col("prev_max_end"),
                                         F.lit(-1))).cast("int"))
               .withColumn("island", F.sum("new_island").over(
                   by_doc.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end").alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .select("doc_id", "span_start", "span_end", "n_windows"))


def scrub_substring_spans(df: DataFrame, window: int = 8,
                          min_docs: int = 2) -> DataFrame:
    """APPLY :func:`repeated_substring_spans` to the text: excise every
    flagged token span and return the input frame with ``text``
    rewritten (all other columns untouched) — the step Lee et al.
    actually train on, not just the detection.

    Excision is token-exact: the document is re-split with the SAME
    whitespace tokenizer the span detector used (lowercasing there
    affects only the hash keys, never token boundaries, so positions
    line up with the original-case token sequence), tokens covered by
    any half-open span are dropped, and the survivors re-join with
    single spaces.  Documents with no flagged span keep their original
    text byte-for-byte — only scrubbed documents get whitespace
    normalized, a documented consequence of token-level surgery.

    Scale shape: the span table is the output of one hash-keyed
    detection pass (see :func:`repeated_substring_spans`); spans
    collect per document into a tiny array (spans are maximal and
    disjoint, so there are at most ~tokens/(window+1) of them) via one
    aggregate, equi-join back on the id, and the excision itself is a
    pure projection (filter-with-index + exists over the span array —
    no Python, no extra shuffle).

    Per-row cost is O(tokens × spans) — fine for real documents (span
    MERGING keeps the count small: a fully-boilerplate doc has ONE
    span), with a worst case of alternating flagged/clean runs at
    O(tokens²/window) for a single pathological row; if a corpus
    exhibits that, chunk such docs first (``chunk_documents``) — the
    spans are position-local, so chunk-wise excision composes.
    """
    spans = repeated_substring_spans(df, window=window,
                                     min_docs=min_docs)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.collect_list(
                   F.struct(F.col("span_start").alias("s"),
                            F.col("span_end").alias("e")))
                   .alias("__spans")))
    toks = F.filter(F.split(F.col("text"), r"\s+"),
                    lambda t: t != "")
    kept_toks = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda sp: (i >= sp["s"]) & (i < sp["e"])))
    scrubbed = F.when(F.col("__spans").isNull(), F.col("text")) \
        .otherwise(F.concat_ws(" ", kept_toks))
    out_cols = [scrubbed.alias(c) if c == "text" else F.col(c)
                for c in df.columns]
    return (df.join(per_doc, "doc_id", "left")
            .select(*out_cols))


def paragraph_dedup(df: DataFrame, para_tokens: int = 16) -> DataFrame:
    """Cross-document PARAGRAPH dedup — MassiveText / Gopher's
    "repeated passage removal" (Rae et al. 2021, appendix A): chunk
    every document into non-overlapping ``para_tokens``-token
    paragraphs (``chunk_documents`` with stride == max_len; corpora
    with real newline paragraphs would split on those instead — the
    fixed window is the delimiter-free testdata shape), elect each
    distinct paragraph's FIRST occurrence in (id, chunk_idx) order as
    its keeper, and rebuild every document from its surviving
    paragraphs.  Duplicates are removed both ACROSS documents and
    within one (two identical chunks in the same doc keep only the
    earlier).

    Returns ``(doc_id, n_paras, n_kept, kept_text)`` — total over
    input docs: a document whose every paragraph loses keeps its row
    with ``n_kept = 0`` and ``kept_text = ''``.

    Scale shape: chunking is a pure projection + explode (no
    shuffle); keeper election is ONE hash aggregate on the paragraph
    (map-side combine collapses each partition's repeats before the
    shuffle); one equi-join back; one groupBy(id) rebuild.  At 100 TB
    the election key would be ``xxhash64(chunk_text)`` (8 bytes on
    the wire instead of the paragraph — same collision policy as
    ``exact_duplicates``); it is text-keyed here so the DuckDB oracle
    replicates it byte-for-byte.  Keeper identity is the lexicographic
    struct-min over (id, chunk_idx) — a total order, so the output is
    deterministic under any partitioning.
    """
    from .packing import chunk_documents
    if para_tokens < 1:
        raise ValueError("para_tokens must be >= 1, got %d"
                         % para_tokens)
    chunks = chunk_documents(df.select("doc_id", "text"),
                             para_tokens, para_tokens)
    # chunks feeds THREE consumers (winner election, the join back,
    # per-doc totals) — cut the lineage so the tokenize+explode
    # chunking pass runs once per action, not three times
    chunks = chunks.localCheckpoint(eager=False)
    winners = (chunks.groupBy("chunk_text")
               .agg(F.min(F.struct(F.col("doc_id").alias("i"),
                                   F.col("chunk_idx").alias("x")))
                    .alias("w")))
    kept = (chunks.join(winners, "chunk_text")
            .filter((F.col("w.i") == F.col("doc_id"))
                    & (F.col("w.x") == F.col("chunk_idx"))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("chunk_idx", "chunk_text"))),
                            lambda s: s["chunk_text"]), " ")
                    .alias("kept_text")))
    totals = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_paras",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("kept_text", F.lit("")).alias("kept_text")))
