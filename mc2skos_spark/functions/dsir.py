"""DSIR-style importance weighting for data selection.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): represent every document as a bag of HASHED n-gram
features, fit bucket distributions for a small trusted *target* corpus
and for the *raw* pool, and weight each raw document by the
log-likelihood ratio  Σ_b cnt_doc[b]·(ln p_target[b] − ln p_raw[b]).
Resampling the pool by these weights shifts it toward the target
distribution — the standard "make CommonCrawl look like Wikipedia"
selection step of a pre-training pipeline.

Scale shape (100 TB):

* the corpus is scanned ONCE: every {1,2}-gram is hashed straight to a
  bucket id, so the only shuffled table is ``(doc_id, bucket, cnt)``
  with ≤ ``buckets`` rows per document — feature extraction never ships
  raw n-gram strings;
* both distributions are ``buckets``-row aggregates of that same table
  (the target is marked by a predicate column, so no second scan), and
  the log-ratio table joins back as a broadcast;
* per-bucket log-probs are floor-quantized to 1e-4 and combined as
  LONGS — the per-document weight is an exact integer, summation-order-
  independent, so the DuckDB oracle hash-matches under any shuffle
  order (the discipline of :mod:`mc2skos_spark.functions.retrieval`).

The bucket hash is the FIRST BYTE of md5 over ``BUCKETS`` = 256
buckets: md5 is bit-identical in every engine, which buys a fully
independent cross-engine oracle.  The paper uses 10k buckets; 256 is
what the one-byte md5 hash reaches, and it is what the curation job
and the registered query run.  Hashing n-grams into buckets is itself
the DSIR design — collisions are part of the estimator, not an
approximation added here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mc2skos_spark.functions.textstats import word_grams12

SCALE = 10_000
BUCKETS = 256


def _bucket(gram: Column, buckets: int, hash_fn: str) -> Column:
    """Hash a gram to [0, buckets).  ``md5``: first md5 byte —
    engine-portable by construction (the oracle path, ≤256 buckets).
    ``xxhash64``: cheaper per gram and not capped at 256 buckets, but
    engine-specific; a classifier file may select it."""
    if hash_fn == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(gram), 1, 2), 16, 10).cast("int"),
            F.lit(buckets))
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast("int")
    raise ValueError(f"_bucket: unknown hash_fn {hash_fn!r}")


def hashed_ngram_buckets(documents: DataFrame, buckets: int = 256,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         keep_cols: list[str] | None = None,
                         hash_fn: str = "md5") -> DataFrame:
    """Per-document hashed {1,2}-gram feature counts
    ``(id_col, *keep_cols, bucket, cnt)``.  Documents with no tokens
    contribute no rows."""
    if hash_fn == "md5" and not 1 <= buckets <= 256:
        raise ValueError("hashed_ngram_buckets: md5 path needs "
                         "buckets in 1..256")
    if buckets < 1:
        raise ValueError("hashed_ngram_buckets: buckets must be >= 1")
    col = F.col(text_col)
    grams = word_grams12(col)   # one tokenize for both gram lengths
    return (documents
            .select(F.col(id_col), *[F.col(c) for c in (keep_cols or [])],
                    F.explode(grams).alias("gram"))
            .select(F.col(id_col), *(keep_cols or []),
                    _bucket(F.col("gram"), buckets, hash_fn)
                    .alias("bucket"))
            .groupBy(id_col, *(keep_cols or []), "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def _quantized_logp(cnt: Column, total: Column, buckets: int) -> Column:
    """floor(ln((cnt+1)/(total+buckets)) · 1e4) as long — add-1 over
    the full bucket space keeps every probability finite."""
    return F.floor(
        F.log((cnt + 1.0) / (total + F.lit(float(buckets)))) * SCALE) \
        .cast("long")


def dsir_logweights(documents: DataFrame, is_target: Column) -> DataFrame:
    """Per-document DSIR log importance weight of every document in
    ``documents`` toward the subset marked by the ``is_target``
    predicate (an in-pool trusted slice; for an external target corpus,
    union it in with a flag column and pass that flag).  A NULL
    predicate value counts as non-target.

    Returns ``(doc_id, n_grams, logw_q)``: ``logw_q`` is the exact
    integer Σ_b cnt·(lp_target − lp_raw) at 1e-4 quantization — sort
    descending and keep the top fraction (or feed through
    :func:`mc2skos_spark.functions.sampling.hash_fraction` thresholds)
    to resample.  Positive ⇒ more target-like than the pool average.
    """
    # per-row hashed bucket-id arrays — ONE tokenize+hash pass, no
    # per-doc grouping exchange at all (guide §2.4: the former
    # (doc, bucket, cnt) shuffle only re-derived what each row already
    # holds); the lineage cut materializes the 4-byte-per-gram arrays
    # once for both consumers (distribution + scoring)
    base = (documents
            .select(F.col("doc_id"),
                    is_target.cast("boolean").alias("is_t"),
                    F.transform(word_grams12(F.col("text")),
                                lambda g: _bucket(g, BUCKETS, "md5"))
                    .alias("__bks"))
            .localCheckpoint(eager=False))

    full = documents.sparkSession.range(BUCKETS) \
        .select(F.col("id").cast("int").alias("bucket"))
    # raw + target counts in ONE conditional aggregate over the
    # exploded bucket ids (count of occurrences == the former sum of
    # per-doc counts) — the only shuffle in the whole plan, and its
    # partial aggregation collapses to <= `buckets` rows per task
    cnts = (base.select("is_t", F.explode("__bks").alias("bucket"))
            .groupBy("bucket").agg(
                F.count(F.lit(1)).cast("long").alias("rc"),
                F.sum(F.when(F.col("is_t"), F.lit(1).cast("long"))
                      .otherwise(F.lit(0).cast("long"))).alias("tc")))
    dist = (full
            .join(cnts, "bucket", "left")
            .select("bucket",
                    F.coalesce("rc", F.lit(0)).cast("long").alias("rc"),
                    F.coalesce("tc", F.lit(0)).cast("long").alias("tc")))
    # corpus totals as a whole-frame window over the `buckets`-row
    # table: dist is bounded by construction (BUCKETS rows), so the
    # single-partition WindowExec is metadata-scale at any corpus size
    # and replaces the former 1-row totals crossJoin — one broadcast
    # nested-loop attach fewer in the plan, identical arithmetic
    from pyspark.sql import Window
    whole = Window.partitionBy()
    ratio = dist.select(
        "bucket",
        (_quantized_logp(F.col("tc"), F.sum("tc").over(whole), BUCKETS)
         - _quantized_logp(F.col("rc"), F.sum("rc").over(whole),
                           BUCKETS)).alias("dlp"))

    # the `buckets`-row ratio table folds into ONE map row and scoring
    # becomes a per-row long fold over the bucket array — no join back,
    # no per-doc aggregate exchange; the occurrence-wise sum of dlp is
    # exactly the former cnt-weighted sum (long adds, any order).
    # element_at (strict under ANSI) is safe: `full` spans every bucket.
    rmap = ratio.agg(F.map_from_entries(F.sort_array(F.collect_list(
        F.struct("bucket", "dlp")))).alias("__dlp"))
    return (base.filter(F.size("__bks") > 0)
            .crossJoin(F.broadcast(rmap))
            .select(F.col("doc_id"),
                    F.size("__bks").cast("long").alias("n_grams"),
                    F.aggregate(F.col("__bks"), F.lit(0).cast("long"),
                                lambda acc, b:
                                acc + F.element_at(F.col("__dlp"), b))
                    .alias("logw_q")))
