"""Watermarked stream-stream interval join: append-mode streaming
output must equal the batch interval join on the same events."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.streaming.joins import stream_interval_join

pytestmark = pytest.mark.spark

SCHEMA = "user_id long, event_id long, ts timestamp_ntz, kind string"


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


ACTIONS = [(1, 10, _ts(0), "click"), (1, 11, _ts(30), "click"),
           (2, 20, _ts(5), "click"),
           (3, 30, _ts(7), "click")]          # user 3: no outcome
OUTCOMES = [(1, 50, _ts(4), "buy"),           # matches 10 (0+4)
            (1, 51, _ts(32), "buy"),          # matches 11 (30+2)
            (1, 52, _ts(70), "buy"),          # matches nothing
            (2, 60, _ts(5), "buy"),           # exact-boundary: ts equal
            (2, 61, _ts(15), "buy")]          # exactly +10min: inclusive


def _write_stream_batches(spark, base, name, batches):
    d = base / name
    d.mkdir()
    for i, rows in enumerate(batches):
        path = str(d / ("b%d" % i))
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(path)
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d) + "/b*"))


def _pairs(df):
    return {(r["user_id"], r["l_event_id"], r["r_event_id"])
            for r in df.collect()}


def test_stream_join_equals_batch_inner(spark, tmp_path):
    actions = _write_stream_batches(spark, tmp_path, "act",
                                    [ACTIONS[:2], ACTIONS[2:]])
    outcomes = _write_stream_batches(spark, tmp_path, "out",
                                     [OUTCOMES[:3], OUTCOMES[3:]])
    q = (stream_interval_join(actions, outcomes, within="10 minutes")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "res"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = _pairs(spark.read.parquet(str(tmp_path / "res")))

    batch = stream_interval_join(
        spark.createDataFrame(ACTIONS, SCHEMA),
        spark.createDataFrame(OUTCOMES, SCHEMA), within="10 minutes")
    want = _pairs(batch)
    # boundary semantics pinned: same-instant AND exactly-+10min both in
    assert (2, 20, 60) in want and (2, 20, 61) in want
    assert want == {(1, 10, 50), (1, 11, 51), (2, 20, 60), (2, 20, 61)}
    assert got == want


def test_batch_frame_agnostic_and_guards(spark):
    a = spark.createDataFrame(ACTIONS, SCHEMA)
    o = spark.createDataFrame(OUTCOMES, SCHEMA)
    out = stream_interval_join(a, o, within="10 minutes")
    assert out.columns == ["user_id", "l_event_id", "l_ts", "l_kind",
                           "r_event_id", "r_ts", "r_kind"]
    assert out.filter(F.col("r_event_id").isNull()).count() == 0
    with pytest.raises(ValueError, match="within"):
        stream_interval_join(a, o, within="10; DROP TABLE")

