"""Watermarked stream-stream interval joins.

The last Structured Streaming operator family the engine was missing:
two UNBOUNDED streams joined on an equality key plus an event-time
range (the ad-tech click↔conversion attribution shape; here,
action↔outcome over the events stream).  Spark buffers each side in
the state store and the WATERMARKS bound that state: a left row can be
dropped once the watermark guarantees no right row inside its interval
can still arrive, and vice versa — which is why the time bound must
reference BOTH event-time columns (a key-only condition would grow
state forever and Spark rejects outer variants outright).

Scale shape: one shuffle per side on the join key, state per key
bounded by ``within + watermark_delay`` of events — independent of
stream history length.  The transformation is batch/stream agnostic:
on batch frames the watermark is a no-op and the SAME code is a plain
interval equi-join (how the DuckDB oracle verifies the semantics).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from mc2skos_spark.operators.sessionize import event_micros

_INTERVAL_RE = re.compile(
    r"^\d+\s+(microsecond|millisecond|second|minute|hour|day|week)s?$")

_HOW = {"inner": "inner", "left": "leftOuter", "left_outer": "leftOuter"}


def _as_instant(df: DataFrame, ts_col: str) -> DataFrame:
    """NTZ event time → LTZ instant (watermarks accept only LTZ);
    epoch-micros route so the wall clock is read as UTC regardless of
    session timezone — same discipline as streaming/sessions.py."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col,
                           F.timestamp_micros(event_micros(ts_col)))
    return df


def stream_interval_join(left: DataFrame, right: DataFrame,
                         key_col: str = "user_id",
                         ts_col: str = "ts",
                         within: str = "10 minutes",
                         watermark_delay: str = "1 minute",
                         how: str = "inner",
                         left_prefix: str = "l_",
                         right_prefix: str = "r_") -> DataFrame:
    """Join each LEFT row to the RIGHT rows with the same ``key_col``
    whose event time falls in ``[left_ts, left_ts + within]``
    (inclusive both ends, the attribution convention).

    Every non-key column is prefixed (``l_``/``r_``) so the two sides
    of a self-join stay distinguishable; the key keeps its name.
    ``how='left'`` keeps unmatched LEFT rows (right columns null) —
    emitted only once the watermark proves no match can arrive, so an
    append-mode sink sees them late but exactly once.  ``within`` must
    be a static interval literal (``'10 minutes'``): it becomes part
    of the join condition Spark uses to size and clean state.
    """
    if how not in _HOW:
        raise ValueError("how must be one of %s" % sorted(_HOW))
    if not _INTERVAL_RE.match(within.strip()):
        raise ValueError("within must look like '<n> <unit>', got %r"
                         % within)
    lts, rts = left_prefix + ts_col, right_prefix + ts_col

    def side(df, prefix):
        df = _as_instant(df, ts_col)
        df = df.select(
            key_col, *[F.col(c).alias(prefix + c)
                       for c in df.columns if c != key_col])
        return df.withWatermark(prefix + ts_col, watermark_delay)

    lhs = side(left, left_prefix)
    rhs = side(right, right_prefix)
    cond = ((lhs[key_col] == rhs[key_col])
            & (F.col(rts) >= F.col(lts))
            & (F.col(rts) <= F.expr(
                "%s + INTERVAL %s" % (lts, within))))
    joined = lhs.join(rhs, cond, _HOW[how])
    # one key column out, not two (the right one is null on unmatched
    # outer rows anyway)
    return joined.drop(rhs[key_col])

