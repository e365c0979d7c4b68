"""Watermarked stream-stream interval joins.

The last Structured Streaming operator family the engine was missing:
two UNBOUNDED streams joined on an equality key plus an event-time
range (the ad-tech click↔conversion attribution shape; here,
action↔outcome over the events stream).  Spark buffers each side in
the state store and the WATERMARKS bound that state: a left row can be
dropped once the watermark guarantees no right row inside its interval
can still arrive, and vice versa — which is why the time bound must
reference BOTH event-time columns (a key-only condition would grow
state forever).

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


def _as_instant(df: DataFrame) -> DataFrame:
    """NTZ event time ``ts`` → LTZ instant (watermarks accept only LTZ);
    epoch-micros route so the wall clock is read as UTC regardless of
    session timezone — same discipline as streaming/sessions.py."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.timestamp_micros(event_micros("ts")))
    return df


def stream_interval_join(left: DataFrame, right: DataFrame,
                         within: str = "10 minutes",
                         watermark_delay: str = "1 minute") -> DataFrame:
    """Inner-join each LEFT row to the RIGHT rows with the same
    ``user_id`` whose event time falls in ``[left_ts, left_ts +
    within]`` (inclusive both ends, the attribution convention).

    Every non-key column is prefixed (``l_``/``r_``) so the two sides
    of a self-join stay distinguishable; the key keeps its name.
    ``within`` must be a static interval literal (``'10 minutes'``):
    it becomes part of the join condition Spark uses to size and clean
    state.
    """
    if not _INTERVAL_RE.match(within.strip()):
        raise ValueError("within must look like '<n> <unit>', got %r"
                         % within)
    lts, rts = "l_ts", "r_ts"

    def side(df, prefix):
        df = _as_instant(df)
        df = df.select(
            "user_id", *[F.col(c).alias(prefix + c)
                         for c in df.columns if c != "user_id"])
        return df.withWatermark(prefix + "ts", watermark_delay)

    lhs = side(left, "l_")
    rhs = side(right, "r_")
    cond = ((lhs["user_id"] == rhs["user_id"])
            & (F.col(rts) >= F.col(lts))
            & (F.col(rts) <= F.expr(
                "%s + INTERVAL %s" % (lts, within))))
    # one key column out, not two
    return lhs.join(rhs, cond, "inner").drop(rhs["user_id"])
