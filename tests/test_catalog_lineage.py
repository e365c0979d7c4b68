"""Catalog lineage from parquet footers, checked against an independent
aggregate: a Spark ``groupBy(input_file_name())`` over the files the
write left on disk (per-file row count, lineage-key span cast to
string, and per-column min/max/null count)."""

import os
import re
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mc2skos_spark.sinks.icebergish import IcebergishCatalog, _stat_key

pytestmark = pytest.mark.spark


def aggregate_lineage(spark, cat, table, key, stat_cols=()):
    """``{file: (rows, input_min, input_max, {col: (min, max, nulls)})}``
    of the table's current snapshot, computed by reading its rows back."""
    m = cat.current_manifest(table)
    snap = os.path.join(cat.root, table, m["dir"])
    schema = cat.read(table).schema
    written = spark.read.schema(schema).parquet(snap)
    per_col = [a for c in stat_cols for a in
               (F.min(c).alias("mn_" + c), F.max(c).alias("mx_" + c),
                F.count(F.when(F.col(c).isNull(), 1)).alias("nu_" + c))]
    rows = (written.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(key).cast("string").alias("mn"),
                 F.max(key).cast("string").alias("mx"), *per_col)
            .collect())
    real = os.path.realpath(snap)
    return {os.path.relpath(os.path.realpath(unquote(urlparse(r["file"])
                                                     .path)), real):
            (r["n"], r["mn"], r["mx"],
             {c: (_stat_key(r["mn_" + c]), _stat_key(r["mx_" + c]),
                  r["nu_" + c]) for c in stat_cols})
            for r in rows}


def manifest_lineage(m, stat_cols=()):
    return {e["file"]: (e["row_count"], e["input_min"], e["input_max"],
                        {c: (e["stats"][c]["min"], e["stats"][c]["max"],
                             e["stats"][c]["nulls"]) for c in stat_cols})
            for e in m["lineage"]}


def test_partitioned_non_ascii_keys_with_nulls(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    rows = [("ké%02d·ø" % (i % 29) if i % 4 else None,
             i if i % 5 else None,
             ("a/b:ç", "z=1", None)[i % 3])
            for i in range(300)]
    df = spark.createDataFrame(rows, "k string, n long, part string")
    m = cat.write("p", df.repartition(3), partition_by=["part"],
                  lineage_key="k", stats_columns=["k", "n"])
    assert len(m["lineage"]) == 9              # 3 tasks x 3 partitions
    assert [e["file"] for e in m["lineage"]] == \
        sorted(e["file"] for e in m["lineage"])
    assert [e["part_id"] for e in m["lineage"]] == list(range(9))
    assert manifest_lineage(m, ["k", "n"]) == \
        aggregate_lineage(spark, cat, "p", "k", ["k", "n"])
    # the partition column as lineage key: its span is the directory
    # value, null for Spark's default partition
    m = cat.write("q", df.repartition(3), partition_by=["part"],
                  lineage_key="part")
    assert manifest_lineage(m) == aggregate_lineage(spark, cat, "q", "part")
    assert {e["input_min"] for e in m["lineage"]} == {"a/b:ç", "z=1", None}


def test_long_key_with_stats_columns(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    df = (spark.range(0, 500, numPartitions=4)
          .selectExpr("id", "cast(id % 7 as string) AS tag",
                      "if(id % 11 = 0, cast(null as bigint), -id) AS v",
                      "id % 3 = 0 AS flag",
                      "date_add(date'2020-01-01', cast(id as int)) AS day"))
    cols = ["id", "tag", "v", "flag", "day"]
    m = cat.write("t", df, lineage_key="id", stats_columns=cols)
    assert len(m["lineage"]) == 4
    assert manifest_lineage(m, cols) == \
        aggregate_lineage(spark, cat, "t", "id", cols)
    # booleans, dates and strings render as Spark casts them too
    for key in ("flag", "day", "tag"):
        m = cat.write("t_" + key, df, lineage_key=key)
        assert manifest_lineage(m) == \
            aggregate_lineage(spark, cat, "t_" + key, key)


def test_tinyint_smallint_stats_columns_prune(spark, tmp_path):
    """Byte and short columns carry zone-map stats: the manifest's
    min/max equal a Spark aggregate over the written files, and a range
    read skips the files whose span misses the bounds."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    df = (spark.range(0, 400, numPartitions=4)
          .selectExpr("id", "cast(id % 128 - 64 as tinyint) AS b",
                      "cast(id * 50 - 10000 as smallint) AS s"))
    cols = ["b", "s"]
    m = cat.write("t", df, lineage_key="id", stats_columns=cols,
                  cluster_by=["s"], num_files=4)
    assert len(m["lineage"]) == 4
    assert manifest_lineage(m, cols) == \
        aggregate_lineage(spark, cat, "t", "id", cols)
    kept, total = cat.pruned_files("t", {"s": (-10000, -9000)})
    assert 1 <= len(kept) < total
    got = sorted(r["id"] for r in
                 cat.read_where("t", {"s": (-10000, -9000)}).collect())
    assert got == list(range(0, 21))


def test_zero_row_file_is_absent(spark, tmp_path):
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    m0 = cat.write("t", spark.range(0, 10).selectExpr("id"),
                   lineage_key="id")
    m1 = cat.append("t", spark.range(0, 10).selectExpr("id").limit(0),
                    lineage_key="id")
    snap = os.path.join(cat.root, "t", m1["dir"])
    files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
    assert files and all(pq.read_metadata(os.path.join(snap, f)).num_rows
                         == 0 for f in files)
    assert m1["lineage"] == m0["lineage"]
    assert aggregate_lineage(spark, cat, "t", "id") == {}
    assert m1["row_count"] == 10


def test_value_without_footer_stats_keeps_file(spark, tmp_path):
    """parquet-mr drops the footer min/max of a value over 4 KB: that
    file records no span and no stats for the column, and pruning keeps
    it whatever the bounds."""
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    long_value = "z" + "x" * 5000      # the max of its file
    df = spark.createDataFrame(
        [(i, long_value if i == 3 else "v%d" % i) for i in range(10)],
        "id long, s string")
    m = cat.write("t", df.repartition(2, "id"), lineage_key="s",
                  stats_columns=["id", "s"])
    want = aggregate_lineage(spark, cat, "t", "s", ["id", "s"])
    [wide] = [f for f, v in want.items() if v[2] == long_value]
    got = {e["file"]: e for e in m["lineage"]}
    assert (got[wide]["input_min"], got[wide]["input_max"]) == (None, None)
    assert "s" not in got[wide]["stats"] and "id" in got[wide]["stats"]
    assert got[wide]["row_count"] == want[wide][0]
    kept, total = cat.pruned_files("t", {"s": ("zz", "zz")})
    assert [e["file"] for e in kept] == [wide] and total == 2
    assert cat.read_where("t", {"s": (long_value, long_value)}).count() == 1
    # the other file keeps exact stats
    [narrow] = [f for f in want if f != wide]
    assert manifest_lineage({"lineage": [got[narrow]]}, ["id", "s"]) == \
        {narrow: want[narrow]}


def test_replayed_write_gives_equal_manifest(spark, tmp_path):
    df = (spark.range(0, 200, numPartitions=3)
          .selectExpr("id", "cast(id % 5 as string) AS k"))
    manifests = []
    for root in ("a", "b"):
        cat = IcebergishCatalog(str(tmp_path / root), spark)
        m = cat.write("t", df, partition_by=["k"], lineage_key="id",
                      stats_columns=["id"])
        del m["committed_at"]
        manifests.append(m)
    # file names carry the write job's UUID; all else is replay-stable
    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                      r"[0-9a-f]{12}")
    a, b = (uuid.sub("UUID", repr(m)) for m in manifests)
    assert a == b
