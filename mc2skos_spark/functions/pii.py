"""PII detection / redaction for training-data pipelines.

The standard pre-training scrub pass: find personally-identifying
spans (emails, IPv4 addresses, phone-shaped numbers) and replace them
with stable placeholder tokens before the text reaches a training set.

All JVM-side: per-type counts via ``regexp_count`` and redaction via
chained ``regexp_replace`` — one projection, zero shuffles, whole-stage
codegen keeps it inside the scan stage at any scale.  Patterns stay in
the regex dialect intersection of Java (Spark) and RE2 (the DuckDB
oracle): character classes, bounded repetition, ``(?:…)``, ``\\b``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: type → (pattern, replacement token).  Ordered: redaction applies them
#: in this order, and the oracle nests its regexp_replace the same way.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "[EMAIL]"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
}


def pii_count(col, kind: str) -> Column:
    """Number of ``kind`` spans in the text."""
    pattern, _ = PII_PATTERNS[kind]
    return F.regexp_count(col, F.lit(pattern))


def scrub_pii(col) -> Column:
    """Text with every PII span replaced by its placeholder token,
    applied in ``PII_PATTERNS`` order (email first, so an address is
    tokenized before the ipv4 pattern could nibble at its host part)."""
    out = col
    for pattern, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_profile(documents: DataFrame) -> DataFrame:
    """Per-document PII audit row: span counts per type + scrubbed
    text.  Downstream policy decides drop vs keep-scrubbed."""
    col = F.col("text")
    return documents.select(
        F.col("doc_id"),
        *[pii_count(col, kind).alias("n_" + kind)
          for kind in PII_PATTERNS],
        scrub_pii(col).alias("scrubbed"))
