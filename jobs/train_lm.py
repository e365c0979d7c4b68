#!/usr/bin/env python
"""spark-submit entry point: train the reference unigram LM that the
LM quality gates consume.

    spark-submit [--py-files mc2skos_spark.zip] jobs/train_lm.py \\
        --input ref_docs.parquet --output lm_dir [--format jsonl] \\
        [--min-count 1]

Writes the ``(token, cnt)`` table as parquet (one row per token) and
prints one JSON stats line.  Consumers: ``jobs/curate.py --lm`` and
``mc2skos_spark.functions.lm.lm_nll_scores(lm=...)`` — the production
CCNet shape where the LM is trained ONCE on a trusted corpus snapshot
and every scoring run is a plain equi-join against it.

``--min-count`` prunes the tail of the vocabulary (tokens below the
threshold are dropped BEFORE the stats are taken, so scoring treats
them as OOV — the standard vocabulary cutoff).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(
        description="train a reference unigram LM for the quality gates")
    parser.add_argument("--input", required=True,
                        help="reference documents table (doc_id, text)")
    parser.add_argument("--format", default="parquet",
                        choices=["parquet", "jsonl", "csv"])
    parser.add_argument("--output", required=True,
                        help="output dir for the (token, cnt) parquet")
    parser.add_argument("--min-count", type=int, default=1,
                        help="drop tokens seen fewer times (vocab cutoff)")
    args = parser.parse_args()
    if args.min_count < 1:
        parser.error("--min-count must be >= 1")

    import os
    import sys
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)

    from pyspark.sql import SparkSession, functions as F

    from mc2skos_spark.functions.lm import unigram_lm

    spark = SparkSession.builder.appName("mc2skos-train-lm").getOrCreate()
    from mc2skos_spark.plans.shiplib import ensure_shipped
    ensure_shipped(spark)

    schema = "doc_id long, text string"
    if args.format == "jsonl":
        docs = spark.read.schema(schema).json(args.input)
    elif args.format == "csv":
        docs = spark.read.schema(schema).option("header", "true") \
            .csv(args.input)
    else:
        docs = spark.read.parquet(args.input)

    lm = unigram_lm(docs.select("doc_id", "text"))
    if args.min_count > 1:
        lm = lm.filter(F.col("cnt") >= args.min_count)
    lm.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    agg = out.agg(F.count(F.lit(1)).alias("v"),
                  F.sum("cnt").alias("total")).collect()[0]
    print(json.dumps({"output": args.output,
                      "vocab": int(agg["v"] or 0),
                      "total_tokens": int(agg["total"] or 0),
                      "min_count": args.min_count}))
    spark.stop()


if __name__ == "__main__":
    main()
