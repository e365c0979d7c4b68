"""URL / domain analysis for training-data pipelines.

The C4/RefinedWeb-style corpus hygiene step: extract URLs from text,
reduce them to their host domain, and aggregate per-domain document
and URL counts — the table that drives domain allow/deny lists and
per-domain quality decisions.

Extraction is a JVM regexp projection; the aggregate is a single
``groupBy(domain)`` with map-side partial combine (the count-distinct
shuffles ``(domain, id)`` pairs — bounded by the URL volume, never the
corpus text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: URL span (scheme + non-space remainder) and the host-capture
#: pattern applied to each span — both in the Java∩RE2 dialect so the
#: DuckDB oracle runs the identical expressions.
URL_PATTERN = r"https?://[^\s]+"
HOST_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def domain_doc_counts(docs: DataFrame) -> DataFrame:
    """Per-domain ``(domain, n_docs, n_urls)``: distinct documents
    mentioning the domain and total URL mentions."""
    urls = docs.select(
        F.col("doc_id"),
        F.explode(F.regexp_extract_all(F.col("text"),
                                       F.lit(URL_PATTERN), 0)).alias("url"))
    domains = urls.select(
        F.col("doc_id"),
        F.regexp_extract("url", HOST_PATTERN, 1).alias("domain"))
    return (domains.groupBy("domain")
            .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_urls")))
