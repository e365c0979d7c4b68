"""As-of and interval joins: hand vectors (mirroring a DuckDB ASOF
probe), null and boundary semantics, pair uniqueness across buckets,
and plan shape (no nested-loop / cartesian anywhere)."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.temporal import asof_join, interval_join

pytestmark = pytest.mark.spark


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 7)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (1, 2, "c"), (3, 1, "z")],
        "k long, ts long, v string")
    return left, right


def test_asof_backward_matches_duckdb_probe(spark):
    # same vectors as the DuckDB `ASOF LEFT JOIN ... l.ts >= r.ts`
    # probe: inclusive boundary, greatest match, unmatched kept
    left, right = _asof_fixture(spark)
    got = {(r["k"], r["ts"]): (r["v"], r["matched_ts"])
           for r in asof_join(left, right, ["k"], "ts", "ts",
                              ["v"]).collect()}
    assert got == {(1, 5): ("c", 2), (1, 10): ("a", 10),
                   (1, 20): ("b", 15), (2, 7): (None, None)}


def test_asof_null_right_keys_never_match(spark):
    left = spark.createDataFrame([(None, 10), (1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(None, 5, "n"), (1, None, "t"), (1, 4, "ok")],
        "k long, ts long, v string")
    got = {r["k"]: r["v"]
           for r in asof_join(left, right, ["k"], "ts", "ts",
                              ["v"]).collect()}
    assert got == {None: None, 1: "ok"}


def test_asof_output_name_clash_rejected(spark):
    left, right = _asof_fixture(spark)
    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("v", F.lit(1)), right,
                  ["k"], "ts", "ts", ["v"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("matched_ts", F.lit(1)),
                  right, ["k"], "ts", "ts", ["v"])


def _ivl(spark, rows, side):
    return spark.createDataFrame(
        rows, "%sid long, k long, %ss long, %se long" % (side, side, side))


def test_interval_join_hand_vectors(spark):
    # [0,10] overlaps [10,20] (inclusive touch); [0,10] vs [11,30] no
    left = _ivl(spark, [(1, 1, 0, 10), (2, 1, 40, 45), (3, 2, 0, 100)],
                "l")
    right = _ivl(spark, [(10, 1, 10, 20), (11, 1, 11, 30),
                         (12, 1, 44, 44), (13, 9, 0, 100)], "r")
    got = {(r["lid"], r["rid"])
           for r in interval_join(left, right, ["k"], "ls", "le",
                                  "rs", "re", bucket_width=7).collect()}
    assert got == {(1, 10), (2, 12)}


def test_interval_join_exactly_once_across_buckets(spark):
    # long intervals span many buckets; the greatest-start anchor must
    # emit each overlapping pair exactly once
    left = _ivl(spark, [(1, 1, 0, 1000)], "l")
    right = _ivl(spark, [(10, 1, 500, 2000), (11, 1, -50, 3)], "r")
    rows = interval_join(left, right, ["k"], "ls", "le", "rs", "re",
                         bucket_width=7).collect()
    assert sorted((r["lid"], r["rid"]) for r in rows) == [(1, 10), (1, 11)]


def test_interval_join_no_keys_pure_range(spark):
    left = _ivl(spark, [(1, 1, 0, 5), (2, 2, 100, 105)], "l")
    right = _ivl(spark, [(10, 9, 4, 6), (11, 9, 50, 60)], "r").drop("k")
    got = {(r["lid"], r["rid"])
           for r in interval_join(left, right, [], "ls", "le",
                                  "rs", "re", bucket_width=10).collect()}
    assert got == {(1, 10)}


def test_interval_join_negative_coordinates(spark):
    # floor-division bucketing must stay consistent below zero
    left = _ivl(spark, [(1, 1, -25, -10)], "l")
    right = _ivl(spark, [(10, 1, -12, -11), (11, 1, -9, 0)], "r")
    got = {(r["lid"], r["rid"])
           for r in interval_join(left, right, ["k"], "ls", "le",
                                  "rs", "re", bucket_width=7).collect()}
    assert got == {(1, 10)}


def test_plans_never_nested_loop(spark):
    left, right = _asof_fixture(spark)
    aj = asof_join(left, right, ["k"], "ts", "ts", ["v"])
    l2 = _ivl(spark, [(1, 1, 0, 10)], "l")
    r2 = _ivl(spark, [(10, 1, 5, 6)], "r")
    ij = interval_join(l2, r2, ["k"], "ls", "le", "rs", "re", 7)
    for df in (aj, ij):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("block_us", [1, 3, 7, 1000])
def test_asof_block_salted_equals_unsalted(spark, block_us):
    """The block-salted two-phase path (hot-key mitigation) must be
    semantically IDENTICAL to the single-window path at every block
    width — including widths of 1 (every row its own block, pure
    carry) and 1000 (one block, pure window) — on a fixture with
    inclusive boundaries, unmatched keys and cross-block matches."""
    left, right = _asof_fixture(spark)
    base = {(r["k"], r["ts"]): (r["v"], r["matched_ts"])
            for r in asof_join(left, right, ["k"], "ts", "ts",
                               ["v"]).collect()}
    salted = {(r["k"], r["ts"]): (r["v"], r["matched_ts"])
              for r in asof_join(left, right, ["k"], "ts", "ts", ["v"],
                                 block_us=block_us).collect()}
    assert salted == base


def test_asof_block_salted_hot_key_ties_nulls(spark):
    """Planted 75%-hot key with left rows tied to right timestamps,
    null left keys and null left timestamps — every row must carry the
    exact same verdict through the salted path."""
    rows = [(1, t) for t in range(0, 300)] + \
        [(2, t) for t in range(0, 50)] + \
        [(None, 10), (1, None)]
    left = spark.createDataFrame(rows, "k long, ts long")
    right = spark.createDataFrame(
        [(1, t, f"r{t}") for t in range(0, 300, 20)] + [(2, 25, "x")],
        "k long, ts long, v string")
    base = {(r["k"], r["ts"]): (r["v"], r["matched_ts"])
            for r in asof_join(left, right, ["k"], "ts", "ts",
                               ["v"]).collect()}
    salted = {(r["k"], r["ts"]): (r["v"], r["matched_ts"])
              for r in asof_join(left, right, ["k"], "ts", "ts", ["v"],
                                 block_us=16).collect()}
    assert salted == base
    assert base[(1, 40)] == ("r40", 40) and base[(1, 59)] == ("r40", 40)


def test_interval_join_width_invariance(spark):
    """A 10x-wrong bucket_width must return the IDENTICAL pair set
    (the anchor rule is width-independent)."""
    lrows = [(100 * k + i, k, i * 10, i * 10 + 14)
             for k in (1, 2) for i in range(8)]
    left = _ivl(spark, lrows, "l")
    right = _ivl(spark, [(i + 500, k, s + 5, e + 5)
                         for i, k, s, e in lrows], "r")

    def pairs(width):
        return {(r["k"], r["lid"], r["rid"])
                for r in interval_join(left, right, ["k"],
                                       "ls", "le", "rs", "re",
                                       bucket_width=width).collect()}

    w = 15                               # inclusive length of [s, s+14]
    exact = pairs(w)
    assert exact and pairs(w * 10) == exact and pairs(max(w // 10, 1)) \
        == exact


def test_fixed_band_matches_interval_join(spark):
    """Round-7 perf path for the fixed-length self-overlap query:
    fixed_band_self_pairs must return EXACTLY the rows of the generic
    interval_join pipeline it replaced (explode both sides, anchor
    filter, a_id < b_id post-filter) — including start ties (strict
    (start, id) enumeration), bucket-boundary starts (exact multiples
    of the band), and pairs exactly band apart (closed intervals)."""
    import random
    from mc2skos_spark.operators.temporal import fixed_band_self_pairs

    rng = random.Random(7)
    band = 100
    rows = [(i, "t%d" % (i % 3), rng.randrange(0, 2000))
            for i in range(300)]
    # start ties within and across keys, and exact band-boundary pairs
    rows += [(1000, "t0", 500), (1001, "t0", 500), (1002, "t1", 500),
             (1003, "t0", 600), (1004, "t0", 601),
             (1005, "t2", 700), (1006, "t2", 800)]
    ev = spark.createDataFrame(rows, "eid long, k string, s long")

    left = ev.select("k", F.col("eid").alias("a_id"),
                     F.col("s").alias("a_s"),
                     (F.col("s") + band).alias("a_e"))
    right = ev.select("k", F.col("eid").alias("b_id"),
                      F.col("s").alias("b_s"),
                      (F.col("s") + band).alias("b_e"))
    generic = {(r["k"], r["a_id"], r["b_id"])
               for r in interval_join(left, right, on=["k"],
                                      l_start="a_s", l_end="a_e",
                                      r_start="b_s", r_end="b_e",
                                      bucket_width=band)
               .filter(F.col("a_id") < F.col("b_id"))
               .select("k", "a_id", "b_id").collect()}
    fast_rows = fixed_band_self_pairs(ev, on=["k"], id_col="eid",
                                      start_col="s",
                                      band=band).collect()
    fast = {(r["k"], r["a_id"], r["b_id"]) for r in fast_rows}
    assert len(fast_rows) == len(fast)        # exactly-once emission
    assert fast == generic
    assert ("t0", 1000, 1001) in fast         # tie pair, once
    assert ("t2", 1005, 1006) in fast         # exactly band apart
