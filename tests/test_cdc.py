"""CDC apply: latest-snapshot (max_by aggregate) and SCD2 history
(lead window), plus the point-in-time composition with asof_join."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.cdc import latest_snapshot, scd2_history

pytestmark = pytest.mark.spark

CH = "k long, seq long, op string, v string"


def test_latest_snapshot_upserts_and_deletes(spark):
    changes = spark.createDataFrame(
        [(1, 1, "I", "a"), (1, 3, "U", "c"), (1, 2, "U", "b"),
         (2, 1, "I", "x"), (2, 2, "D", None),
         (3, 5, "D", None), (3, 9, "U", "back")], CH)
    got = {r["k"]: r["v"]
           for r in latest_snapshot(changes, ["k"], ["seq"],
                                    delete_when=F.col("op") == "D")
           .collect()}
    # k=1: seq 3 wins; k=2: latest is a delete -> gone; k=3: an
    # update AFTER the delete resurrects the key
    assert got == {1: "c", 3: "back"}


def test_latest_snapshot_composite_seq_and_no_delete(spark):
    changes = spark.createDataFrame(
        [(1, 5, "U", "late-tie"), (1, 5, "I", "zz")],
        CH)
    # composite (seq, v) order: 'zz' > 'late-tie'
    got = latest_snapshot(changes, ["k"], ["seq", "v"]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "zz")]


def test_scd2_history_intervals(spark):
    changes = spark.createDataFrame(
        [(1, 10, "I", "a"), (1, 30, "U", "b"), (2, 5, "I", "x")], CH)
    rows = {(r["k"], r["v"]): (r["valid_from"], r["valid_to"],
                               r["is_current"])
            for r in scd2_history(changes, ["k"], "seq").collect()}
    assert rows == {(1, "a"): (10, 30, False),
                    (1, "b"): (30, None, True),
                    (2, "x"): (5, None, True)}


def test_scd2_point_in_time_equals_asof(spark):
    # as-of lookup against the SCD2 table == asof_join on valid_from
    from mc2skos_spark.operators.temporal import asof_join
    changes = spark.createDataFrame(
        [(1, 10, "I", "a"), (1, 30, "U", "b"), (1, 50, "U", "c")], CH)
    hist = scd2_history(changes, ["k"], "seq").select(
        "k", "valid_from", F.col("v").alias("state"))
    probes = spark.createDataFrame([(1, 9), (1, 10), (1, 49), (1, 99)],
                                   "k long, at long")
    got = {r["at"]: r["state"]
           for r in asof_join(probes, hist, ["k"], "at", "valid_from",
                              ["state"]).collect()}
    assert got == {9: None, 10: "a", 49: "b", 99: "c"}


def test_latest_snapshot_plan_is_one_aggregate_no_window(spark):
    changes = spark.createDataFrame([(1, 1, "I", "a")], CH)
    snap = latest_snapshot(changes, ["k"], ["seq"])
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_compress_changes_vectors(spark):
    from mc2skos_spark.operators.cdc import compress_changes
    changes = spark.createDataFrame(
        [(1, 1, "I", "a"), (1, 2, "U", "a"),   # no-op image dropped
         (1, 3, "U", "b"), (1, 4, "U", "a"),   # a->b->a both kept
         (2, 1, "I", None), (2, 2, "U", None), # null==null: no-op
         (2, 3, "U", "x"),
         (3, 7, "I", "z")], CH)                # singleton kept
    got = sorted((r["k"], r["seq"]) for r in
                 compress_changes(changes, ["k"], ["seq"], ["v"])
                 .collect())
    assert got == [(1, 1), (1, 3), (1, 4), (2, 1), (2, 3), (3, 7)]
    # composition: SCD2 over the compressed stream yields one interval
    # per VALUE RUN, not per redelivered image
    from mc2skos_spark.operators.cdc import scd2_history
    hist = scd2_history(
        compress_changes(changes, ["k"], ["seq"], ["v"])
        .filter(F.col("k") == 1), ["k"], "seq")
    assert [(r["v"], r["valid_from"], r["valid_to"])
            for r in hist.orderBy("valid_from").collect()] == \
        [("a", 1, 3), ("b", 3, 4), ("a", 4, None)]
