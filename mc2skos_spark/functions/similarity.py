"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: JVM-side dot product
  via ``F.zip_with``/``F.aggregate``; the baseline every ANN variant is
  measured against.
* :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH
  buckets (signs of dot products with seeded pseudo-random planes),
  candidates restricted to the query's bucket (and neighbors via
  multi-probe), then exact re-rank.  At 100 TB the bucket join replaces
  the full cross product; bucketing is a narrow map + one equi-join.
* :func:`ivf_topk` — IVF-style: k-means-lite centroid assignment
  (centroids sampled deterministically), probe the ``nprobe`` closest
  centroids only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (mapInPandas batches are pandas)

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def _dot_fixed(a, b, dim: int):
    """``_dot`` unrolled for a known vector width: the same
    left-associated ``((0.0 + a1·b1) + a2·b2) + …`` IEEE fold, but as a
    flat expression whole-stage codegen compiles — higher-order
    functions are interpreted per element, which made the SemDeDup
    candidate scorer the single hottest spot in the bench (~10x slower
    than codegen on 64-dim pairs).  Bit-identical by construction: same
    multiply/add order, and rows whose arrays are not exactly ``dim``
    wide fall back to :func:`_dot` per row (lazy ``when`` branch), so
    ragged input keeps the zip_with null-padding semantics."""
    s = F.lit(0.0)
    for i in range(int(dim)):
        s = s + F.get(a, i) * F.get(b, i)
    return F.when((F.size(a) == int(dim)) & (F.size(b) == int(dim)),
                  s).otherwise(_dot(a, b))


def _dot_prefix(a, b, prefix: int):
    """First ``prefix`` terms of the :func:`_dot` fold, unrolled."""
    s = F.lit(0.0)
    for i in range(int(prefix)):
        s = s + F.get(a, i) * F.get(b, i)
    return s


def suffix_norm(vec_col, prefix: int) -> "F.Column":
    """L2 norm of the elements after position ``prefix`` — the
    per-vector half of the Cauchy–Schwarz bound used to skip full dot
    products for pairs that provably miss a similarity threshold.  A
    row no longer than ``prefix`` has an empty suffix (``slice``
    rejects a negative length)."""
    return _norm(F.slice(vec_col, int(prefix) + 1,
                         F.greatest(F.size(vec_col) - int(prefix),
                                    F.lit(0))))


def cosine(a, b):
    # try_divide: a zero-magnitude vector yields NULL→0.0 instead of an
    # ANSI DIVIDE_BY_ZERO that would kill the whole query (parity with
    # the Python helper in ivf_topk)
    return F.coalesce(F.try_divide(_dot(a, b), _norm(a) * _norm(b)),
                      F.lit(0.0))


def cosine_topk(embeddings: DataFrame, query_vec: list[float],
                k: int = 10) -> DataFrame:
    """Exact top-k by cosine against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col("vec_id"),
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 4)
         .alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.col("vec_id")).limit(k)


def _planes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy dependency in
    the plan; values from a fixed LCG so both tests and docs can
    reproduce them)."""
    state = seed
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def _vec_matrix(series) -> "np.ndarray":
    """Arrow list column (pandas Series of per-row arrays) → n×dim
    float64 matrix.  Vectors must share one dim (the embedding-table
    contract); an empty batch yields a (0, 0) matrix."""
    if len(series) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return np.vstack([np.asarray(v, dtype=np.float64) for v in series])


def assign_lsh_buckets(df: DataFrame, planes: list[list[float]],
                       vec_col: str, out_col: str = "bucket") -> DataFrame:
    """Sign-pattern LSH bucket id appended as ``out_col`` (long).

    Data-driven form: the plane matrix rides a Spark broadcast variable
    and each Arrow batch does ONE matmul + sign-pack
    (``(V @ P.T >= 0) · 2^i``) inside ``mapInPandas`` — plan size is
    O(1) in both num_planes and dim, vs the previous literal-unrolled
    expression (one ``F.array(*literals)`` + dot-product HOF per plane
    embedded in the projection).  Bit 63 wraps to the two's-complement
    sign bit to stay a valid Spark long."""
    num_planes = len(planes)
    if not 0 < num_planes <= 64:
        raise ValueError("assign_lsh_buckets: need 1..64 planes")
    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(planes, dtype=np.float64))
    out_schema = StructType(df.schema.fields
                            + [StructField(out_col, LongType(), False)])
    weights = np.asarray([1 << i for i in range(num_planes)],
                         dtype=np.uint64)

    def gen(batches):
        p_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = np.zeros(0, dtype=np.int64)
                yield pdf
                continue
            v = _vec_matrix(pdf[vec_col])
            bits = (v @ p_mat.T) >= 0.0
            pdf[out_col] = (bits.astype(np.uint64) @ weights).view(np.int64)
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def lsh_bucketed_topk(embeddings: DataFrame, query_vec: list[float],
                      k: int = 10, num_planes: int = 8,
                      multiprobe: int = 1) -> DataFrame:
    """ANN top-k: exact re-rank within the query's LSH bucket plus all
    buckets within Hamming distance ``multiprobe`` (multi-probe LSH —
    recall rises steeply per probe while candidates stay a tiny fraction
    of the corpus)."""
    dim = len(query_vec)
    planes = _planes(dim, num_planes)
    bucketed = assign_lsh_buckets(embeddings, planes, "embedding", "bucket")
    qbits = 0
    for i, plane in enumerate(planes):
        if sum(px * qx for px, qx in zip(plane, query_vec)) >= 0:
            qbits |= (1 << i)
    probes = {qbits}
    frontier = {qbits}
    for _ in range(multiprobe):
        frontier = {b ^ (1 << i) for b in frontier for i in range(num_planes)}
        probes |= frontier
    candidates = bucketed.filter(F.col("bucket").isin([*probes]))
    return cosine_topk(candidates, query_vec, k)


def unit_vector(vec_col) -> "F.Column":
    """Unit-normalized copy of a double-array column (zero vector →
    zeros).  The norm is bound to a lambda variable so it is computed
    ONCE per row — a plain ``transform(v, x -> x / _norm(v))`` would
    re-evaluate the norm subtree per element (Catalyst does not CSE
    into HOF lambda bodies).  Pre-normalizing once per row turns every
    downstream cosine into a single dot product."""
    return F.aggregate(
        F.array(_norm(vec_col)), F.array().cast("array<double>"),
        lambda acc, nrm: F.transform(
            vec_col, lambda x: F.coalesce(F.try_divide(x, nrm),
                                          F.lit(0.0))))


def _unit_rows(mat: "np.ndarray") -> "np.ndarray":
    """Row-normalize a matrix; zero rows stay zero (parity with
    :func:`unit_vector` / the old driver-side ``unit()`` helper)."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def assign_nearest_centroid(df: DataFrame, centroids: list[tuple],
                            vec_col: str, out_col: str = "centroid",
                            normalize_input: bool = True) -> DataFrame:
    """Nearest-centroid-by-cosine id appended as ``out_col``.

    Scale-true, data-driven form (replaces the literal-expression
    ``centroid_assign``/``centroid_assign_normalized`` that embedded
    every centroid as an ``F.array(*literals)`` + dot-product HOF in one
    projection — linear plan growth that died at the 50k-centroid /
    768-dim counts SemDeDup itself prescribes, ~38M literal doubles in
    a single expression tree): the K×dim centroid matrix is shipped
    ONCE per executor via a Spark broadcast variable and each Arrow
    batch runs one matmul + argmax inside ``mapInPandas``.  Plan size
    and build time are O(1) in K; per-row cost is the same K dot
    products as before, now BLAS-vectorized.

    Semantics unchanged: centroids are unit-normalized driver-side and
    input vectors per batch (skip with ``normalize_input=False`` when
    the column is already unit — e.g. :func:`unit_vector` output), so
    the score is exactly cosine; ties → larger cid (centroid rows are
    ordered by descending cid, so numpy's first-max argmax picks the
    largest cid — same rule as the old ``array_max`` on (s, cid)
    structs and the DuckDB oracles' ``ORDER BY cos DESC, cid DESC``).
    Zero vectors score 0.0 against every centroid, matching the old
    ``try_divide``-coalesce behavior.

    ``out_col`` type follows the cid values (long for ints, else
    string — the API allows non-numeric id columns as centroid ids).

    Memory at the paper's scale: 50k centroids × 768 dims ≈ 0.3 GB of
    float64 — one broadcast per EXECUTOR (not per task), comfortably
    inside executor memory, and the per-batch matmul is the same
    arithmetic a faiss flat index would do.  Past ~1M centroids the
    right structure changes (shard the centroid table and assign via
    an exploded equi-join + ``max_by``, or go hierarchical); this
    function is the dense-matrix regime.
    """
    if not centroids:
        raise ValueError("assign_nearest_centroid: empty centroid list")
    ordered = sorted(centroids, key=lambda c: c[0], reverse=True)
    cids = [cid for cid, _ in ordered]
    numeric = all(isinstance(c, int) for c in cids)
    cent_mat = _unit_rows(np.vstack(
        [np.asarray(cvec, dtype=np.float64) for _, cvec in ordered]))
    bc = df.sparkSession.sparkContext.broadcast((cids, cent_mat))
    out_schema = StructType(
        df.schema.fields
        + [StructField(out_col, LongType() if numeric else StringType(),
                       False)])

    def gen(batches):
        cid_list, c_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = ([] if not numeric
                                else np.zeros(0, dtype=np.int64))
                yield pdf
                continue
            v = _vec_matrix(pdf[vec_col])
            if normalize_input:
                v = _unit_rows(v)
            idx = (v @ c_mat.T).argmax(axis=1)
            pdf[out_col] = [cid_list[i] for i in idx]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def arithmetic_centroids(embeddings: DataFrame, num_centroids: int,
                         centroid_mod: int = 8,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> list[tuple]:
    """Deterministic centroid pick that an ANSI-SQL oracle can mirror:
    the ``num_centroids`` smallest ids of the arithmetic slice
    ``id % centroid_mod == 0``.  Like the xxhash slice in
    :func:`ivf_topk`, the rank happens WITHIN the slice only (a
    metadata-scale TakeOrdered after a cheap filter scan, never a
    full-corpus sort); unlike it, the slice predicate is plain modulo,
    so DuckDB reproduces the exact same centroids.

    Driver sizing: the K centroid rows are collected here before
    :func:`assign_nearest_centroid` broadcasts them — at the SemDeDup
    paper's K=50k x 768 dims that is ~0.3 GB of float64 on the driver
    (fine on a cluster driver, worth knowing when K grows); the design
    is correct because centroids are genuinely small data, but past
    ~1M centroids keep them distributed (see the regime note in
    :func:`assign_nearest_centroid`)."""
    rows = (embeddings
            .filter(F.col(id_col) % centroid_mod == 0)
            .orderBy(id_col)
            .limit(num_centroids)
            .select(F.col(id_col).alias("cid"),
                    F.col(vec_col).alias("cvec"))
            .collect())
    if not rows:
        raise ValueError("arithmetic_centroids: empty centroid slice")
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


#: ivf_topk samples its centroids from the rows whose id hash is 0
#: modulo this
SAMPLE_MOD = 8


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             num_centroids: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF-lite ANN: deterministic sampled centroids, probe the nprobe
    nearest lists, exact re-rank inside them.

    Centroid pick: a deterministic hash slice (``xxhash64(id) %
    SAMPLE_MOD == 0`` — a Bernoulli sample that, unlike ``df.sample``,
    is independent of how the scan happened to be partitioned) followed
    by a TakeOrdered *within the slice only*.  Nothing hash-ranks the
    full corpus; the full scan touches each row once with a cheap
    filter.  Size ``SAMPLE_MOD`` so corpus/SAMPLE_MOD is comfortably ≥
    num_centroids but small — at 100 TB something like 2**20 keeps the
    ranked slice metadata-scale.
    """
    sample = (embeddings
              .filter(F.pmod(F.xxhash64(F.col("vec_id")),
                             F.lit(SAMPLE_MOD)) == 0)
              .orderBy(F.xxhash64(F.col("vec_id")))
              .limit(num_centroids)
              .select(F.col("vec_id").alias("cid"),
                      F.col("embedding").alias("cvec"))
              .collect())
    if len(sample) < num_centroids:
        # thin slice → the corpus is at most ~SAMPLE_MOD*num_centroids
        # rows, where the pre-slice full TakeOrdered is cheap anyway
        # (a mis-sized SAMPLE_MOD on a big corpus pays that rank once
        # rather than returning degraded centroids silently)
        sample = (embeddings.orderBy(F.xxhash64(F.col("vec_id")))
                  .limit(num_centroids)
                  .select(F.col("vec_id").alias("cid"),
                          F.col("embedding").alias("cvec"))
                  .collect())
    if not sample:
        raise ValueError("ivf_topk: empty embeddings input")
    # keep the native id value — vec_id need not be numeric
    centroids = [(r["cid"], [float(x) for x in r["cvec"]])
                 for r in sample]

    def cos_py(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(y * y for y in b) ** 0.5
        return num / (da * db) if da and db else 0.0

    probe = sorted(centroids, key=lambda c: -cos_py(c[1], query_vec))[:nprobe]
    probe_ids = [cid for cid, _ in probe]

    assigned = assign_nearest_centroid(embeddings, centroids, "embedding",
                                       "centroid", normalize_input=True)
    candidates = assigned.filter(F.col("centroid").isin(probe_ids))
    return cosine_topk(candidates, query_vec, k)
