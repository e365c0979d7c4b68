"""Gap-based sessionization of event streams (batch form).

The classic clickstream operator: within each user's time-ordered
event sequence, a new session starts wherever the gap to the previous
event exceeds ``gap_seconds``.  The batch expression of the same
semantics Structured Streaming's session windows compute online —
giving the repo both forms (streaming session state lives in
:mod:`mc2skos_spark.streaming`).

Scale shape: one exchange on the user key, then per-user window
functions (lag → gap flag → running sum) — no global sort, no driver
state.  Per-user work is sequential by nature (sessions are a serial
scan of that user's timeline); a pathologically hot user bounds one
task, which is inherent to the operator, not the plan.

Determinism: gaps are compared in exact MICROSECOND integers
(``unix_micros`` ≡ DuckDB ``epoch_us``) and the event order ties on
``event_id`` — no float time arithmetic anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def event_micros(col: Column | str) -> Column:
    """Exact epoch microseconds for TIMESTAMP **or** TIMESTAMP_NTZ.

    ``unix_micros`` rejects NTZ (the driver parquet reads as NTZ), so
    the TZ-free formulation is a microsecond diff against the NTZ
    epoch — identical to DuckDB's ``epoch_us`` on naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"))


def sessionize(events: DataFrame, gap_seconds: int = 7200) -> DataFrame:
    """Per-event session assignment: adds ``session_id`` (1-based,
    per user, in time order) to every event row."""
    if gap_seconds <= 0:
        raise ValueError("sessionize: gap_seconds must be positive")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = event_micros("ts")
    prev_us = F.lag(us).over(order)
    new_session = (F.when(
        prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000),
        1).otherwise(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            order.rowsBetween(Window.unboundedPreceding, 0)))


def session_stats(events: DataFrame, gap_seconds: int = 7200) -> DataFrame:
    """Per-session rollup: ``(user_id, session_id, session_start,
    session_end, n_events, duration_us)`` — duration as an exact
    microsecond integer (no float time math)."""
    tagged = sessionize(events, gap_seconds)
    return (tagged.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 (event_micros(F.max("ts"))
                  - event_micros(F.min("ts"))).alias("duration_us")))
