"""Change-data-capture application: latest snapshot and SCD2 history.

The two standard shapes for applying a keyed change stream (inserts /
updates / deletes with a total per-key order) to get queryable state —
what Delta's ``MERGE`` / DLT's ``apply_changes`` do, expressed as
plain aggregations so they run anywhere:

- :func:`latest_snapshot` — current state: ONE hash aggregate with
  ``max_by`` over the per-key sequence.  Deliberately an aggregate and
  not a ``row_number`` window: partial aggregation combines map-side,
  so the shuffle carries one row per (partition, key) instead of the
  full change history — the difference between O(changes) and
  O(distinct keys) network volume at 100 TB.  A key whose LATEST
  change is a delete disappears from the snapshot.
- :func:`scd2_history` — slowly-changing-dimension type 2: every
  change becomes a validity interval ``[valid_from, valid_to)`` with
  ``valid_to`` = the next change's event time (null = current row).
  One exchange on the key + a ``lead`` window.  Point-in-time lookups
  against the result are exactly :func:`~mc2skos_spark.operators.
  temporal.asof_join` on ``valid_from``.

Determinism: the per-key order is the caller's ``seq_cols`` tuple
(compared as a struct); callers pass a unique total order (e.g.
``(ts, event_id)``) — same contract as the DuckDB ``row_number``
oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_snapshot(changes: DataFrame, key_cols: Sequence[str],
                    seq_cols: Sequence[str],
                    delete_when: Column | None = None) -> DataFrame:
    """Current state per key: the highest-sequence change wins; keys
    whose winning change satisfies ``delete_when`` are dropped.

    Returns one row per surviving key with the winning change's full
    row (original column order).
    """
    key_cols, seq_cols = list(key_cols), list(seq_cols)
    payload = F.struct(*changes.columns).alias("__row")
    order = F.struct(*[F.col(c) for c in seq_cols])
    tagged = changes.select(*key_cols, order.alias("__seq"), payload)
    won = (tagged.groupBy(*key_cols)
           .agg(F.max_by("__row", "__seq").alias("__row")))
    out = won.select(*[F.col("__row")[c].alias(c)
                       for c in changes.columns])
    if delete_when is not None:
        out = out.filter(~F.coalesce(delete_when, F.lit(False)))
    return out


def scd2_history(changes: DataFrame, key_cols: Sequence[str],
                 ts_col: str,
                 tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """SCD type-2 validity intervals from a change stream.

    Adds ``valid_from`` (= the change's ``ts_col``), ``valid_to``
    (= the NEXT change's ``ts_col`` for the same key, null for the
    current version) and ``is_current``.  One exchange on the key.
    """
    key_cols = list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (changes
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull()))


def compress_changes(changes: DataFrame, key_cols: Sequence[str],
                     seq_cols: Sequence[str],
                     value_cols: Sequence[str]) -> DataFrame:
    """Drop no-op changes: keep a row only when its ``value_cols``
    differ from the PREVIOUS change's for the same key (null-safe
    struct compare; the first change per key always survives).

    The standard debezium-style change-compression step applied BEFORE
    :func:`latest_snapshot` / :func:`scd2_history` — upstream CDC
    pipelines routinely redeliver full-row images where nothing the
    table cares about changed, and compressing first shrinks the SCD2
    history.  One exchange on the key + a lag window (the per-key
    ordered comparison is inherently a window; ``seq_cols`` must be a
    unique total order per key, same contract as the other operators
    here).  Composes:
    ``scd2_history(compress_changes(...))`` collapses repeated images
    into single validity intervals.
    """
    key_cols, seq_cols = list(key_cols), list(seq_cols)
    val = F.struct(*[F.col(c) for c in value_cols])
    w = Window.partitionBy(*key_cols) \
        .orderBy(*[F.col(c) for c in seq_cols])
    prev = F.lag(val).over(w)
    return (changes
            .withColumn("__prev", prev)
            .filter(~val.eqNullSafe(F.col("__prev")))
            .drop("__prev"))
