"""Native session windows on the event stream.

The streaming counterpart of :mod:`mc2skos_spark.operators.sessionize`:
``F.session_window(ts, gap)`` keeps per-key session state that extends
while events keep arriving within ``gap`` and finalizes once the
watermark passes ``last_event + gap`` — the online form of the batch
lag→flag→running-sum sessionizer, with bounded state (closed sessions
are evicted, unlike a batch window over all history).

Semantics mapping to the batch operator (pytest-verified parity):
- ``session_window.start``          == batch ``session_start``
- ``session_window.end``            == batch ``session_end + gap``
  (Spark defines the window as [first, last+gap))
- the gap boundary matches EXACTLY: session_window merges the
  exact-boundary case (two events precisely ``gap`` apart are one
  session — verified empirically), identical to the batch operator's
  ``> gap``-starts-a-new-session rule.

Scale shape: one shuffle on (user_id, session state key); state store
size is O(open sessions), bounded by the watermark.  No driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mc2skos_spark.operators.sessionize import event_micros


def streaming_session_stats(events: DataFrame,
                            gap: str = "1 hour",
                            watermark_delay: str = "2 hours") -> DataFrame:
    """Streaming (or batch) events → per-session rollup.

    Output: ``(user_id, session_start, session_end_gap, n_events)``
    where ``session_end_gap = last event + gap`` (Spark's session
    window bound).  Append-mode compatible: a session row emits once
    the watermark passes its end.  The transformation is batch/stream
    agnostic — on a batch DataFrame the watermark is a no-op and the
    result equals a batch session-window aggregation.
    """
    # watermarks accept only TIMESTAMP (LTZ): NTZ event time (the
    # parquet default here) is converted ONCE via epoch micros —
    # timestamp_micros builds the instant directly, so the NTZ wall
    # clock is read as UTC regardless of the session timezone (a plain
    # cast would shift by the session-TZ offset and drift across DST)
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn(
            "ts", F.timestamp_micros(event_micros("ts")))
    return (events
            .withWatermark("ts", watermark_delay)
            .groupBy(F.session_window(F.col("ts"), gap).alias("w"),
                     F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("user_id"),
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end_gap"),
                    "n_events"))
