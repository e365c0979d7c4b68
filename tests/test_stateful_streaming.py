"""Watermarked windowed turn-rate metrics over a transcript file stream."""

import pytest

from mc2skos_spark.plans import schemas
from mc2skos_spark.sources.synth import make_transcript_rows, synth_marc_records

pytestmark = pytest.mark.spark


def test_watermarked_turn_rate_metrics(spark, tmp_path):
    from pyspark.sql import functions as F

    from mc2skos_spark.streaming.metrics import turn_rate_metrics

    rows = make_transcript_rows(synth_marc_records(20, seed=45), seed=46)
    transcripts = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    input_dir = str(tmp_path / "metrics_in")
    transcripts.repartition(4).write.parquet(input_dir)

    stream = (spark.readStream.schema(schemas.TRANSCRIPTS)
              .option("maxFilesPerTrigger", "1")
              .parquet(input_dir))
    out = str(tmp_path / "metrics_out")
    q = (turn_rate_metrics(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "metrics_ck"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    metrics = spark.read.parquet(out)
    finalized = metrics.agg(F.sum("turns")).collect()[0][0] or 0
    total = transcripts.count()
    # append mode withholds windows the watermark has not passed — the
    # finalized windows must never overcount, and with synth timestamps
    # spanning minutes most windows do finalize
    assert 0 < finalized <= total
    row = metrics.orderBy("window_start").first()
    assert row["payload_turns"] <= row["turns"]
    assert row["window_end"] > row["window_start"]

