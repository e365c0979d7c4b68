"""Full-text retrieval over the documents table: BM25 scored top-k.

The missing member of the search family next to the embedding-space
operators in :mod:`mc2skos_spark.functions.similarity`: keyword search
with the Okapi BM25 ranking function (Robertson & Walker, the Lucene
``k1``/``b`` parameterization with the always-positive
``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf).

Scale shape (100 TB):

* the token stream is filtered to the query's terms BEFORE any shuffle —
  shuffle volume is O(matching tokens), never O(corpus tokens);
* per-term document frequencies are a ≤|query| row aggregate, broadcast
  back onto the tf table;
* corpus statistics (N, avgdl) are one aggregate over the same
  tokenize pass, joined in as a broadcast 1-row frame;
* the final ranking is a TakeOrdered (partial top-k per partition, k
  rows to the driver), never a global sort.

Cross-engine float discipline: per-(doc, term) BM25 contributions are
floor-truncated to 1e-4 and summed as INTEGERS (order-independent),
then divided back once — a double-sum per group would be
summation-order-dependent and could differ between Spark and the DuckDB
oracle in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mc2skos_spark.functions.textstats import tokens

#: the Lucene BM25 defaults: term-frequency saturation and length
#: normalization
K1 = 1.2
B = 0.75


def bm25_topk(documents: DataFrame, query_terms: list[str],
              k: int = 10) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25.

    Returns ``(doc_id, bm25)`` ordered by score descending, ``doc_id``
    ascending on ties.  The corpus statistics come from the same pass
    that tokenizes the documents.
    """
    if not query_terms:
        raise ValueError("bm25_topk: empty query")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("bm25_topk: duplicate query terms")

    qarr = F.array(*[F.lit(t) for t in query_terms])
    # ONE tokenize pass for stats AND term frequencies (round 7: the
    # stats aggregate used to re-scan + re-tokenize the corpus — a
    # second full pass just for avg doc length).  Per-doc rows shrink
    # to (id, dl, query-hit tokens) before the lineage cut, so what is
    # materialized is O(hits), not the token stream.  CollapseProject
    # will not inline the non-cheap tokens() into both consumers, so
    # the split projection tokenizes once.
    base = (documents
            .select(F.col("doc_id"),
                    tokens(F.lower(F.col("text"))).alias("tk"))
            .select(F.col("doc_id"),
                    F.size("tk").alias("dl"),
                    F.filter(F.col("tk"),
                             lambda t: F.array_contains(qarr, t))
                    .alias("hits"))
            .localCheckpoint(eager=False))

    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"))

    # term filter happened BEFORE the explode: non-matching tokens
    # never leave the scan stage, so the exploded stream (and the
    # shuffle it feeds) is proportional to query hits only
    tf = (base
          .select(F.col("doc_id"), "dl",
                  F.explode("hits").alias("term"))
          .groupBy("doc_id", "dl", "term")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    # tf feeds both the df aggregate and the scoring join: lineage-cut
    # (lazily) so its aggregate runs once, not per consumer
    tf = tf.localCheckpoint(eager=False)

    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))

    scored = (tf
              .join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (K1 + 1.0)
               / (F.col("tf")
                  + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))))
    contrib = F.floor(idf * tf_part * 10000).cast("long")

    return (scored
            .groupBy("doc_id")
            .agg((F.sum(contrib) / 10000.0).alias("bm25"))
            .orderBy(F.desc("bm25"), F.col("doc_id"))
            .limit(k))
