"""Benchmark-contamination detection for training-data pipelines.

The standard pre-training hygiene check (as published for GPT-3 /
PaLM / Llama data work): find training documents that share word
n-grams with an evaluation benchmark, so they can be dropped or
flagged before training.

Scale design (100 TB training corpus, MB-scale benchmark): the
benchmark side's distinct shingle set is tiny → ``broadcast`` it; the
training side explodes its distinct-per-doc shingles (linear, map-side)
and the probe is a broadcast hash join — no shuffle of the corpus.  The
per-doc hit count aggregates with map-side partial combine on
``doc_id`` only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import hashed_shingles


def benchmark_contamination(docs: DataFrame, bench: DataFrame,
                            n: int = 5,
                            min_hits: int = 2) -> DataFrame:
    """Per training doc: how many distinct word ``n``-gram shingles it
    shares with the benchmark corpus, and a ``contaminated`` flag
    (``>= min_hits`` shared shingles).

    Returns ``(doc_id, bench_shingles, contaminated)`` with one row per
    input training doc (docs with no overlap report 0 / false).
    Shingles are hashed token tuples (:func:`~.dedup.hashed_shingles`):
    no shingle strings are ever materialized, the probe joins on longs,
    and the per-doc distinct already happened in the shingle array, so
    the post-join count(*) is the number of DISTINCT shared shingles.
    """
    bsh = (bench
           .select(F.explode(hashed_shingles(F.col("text"), n))
                   .alias("sh"))
           .distinct())
    tsh = docs.select(F.col("doc_id"),
                      F.explode(hashed_shingles(F.col("text"), n))
                      .alias("sh"))
    hits = (tsh.join(F.broadcast(bsh), "sh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("bench_shingles")))
    return (docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("bench_shingles", F.lit(0))
                     .cast("long").alias("bench_shingles"),
                    (F.coalesce("bench_shingles", F.lit(0)) >= min_hits)
                     .alias("contaminated")))
