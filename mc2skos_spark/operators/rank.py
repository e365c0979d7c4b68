"""Global ranking without a single-task WindowExec.

A bare ``row_number() OVER (ORDER BY ...)`` collapses the whole dataset
into ONE window partition — a single task at scale.  The scalable shape
(the same one the ordered Turtle sink uses for its global sort,
``sinks/serializers.py``) is:

1. ``repartitionByRange`` on the sort keys — Spark's range partitioner
   gives partition *i* strictly lower key ranges than partition *i+1*;
2. per-partition ``row_number`` (windows keyed by the physical
   partition id — every task ranks only its own slice);
3. add per-partition base offsets.  The offsets come from one
   metadata-scale aggregate (#partitions rows collected to the driver,
   never the data itself).

The output rank is identical to the global ``row_number`` regardless of
where the range partitioner placed its boundaries, so the result is
deterministic even though the partitioning may not be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def global_rank(df: DataFrame, order_cols: list[str],
                rank_col: str = "rank") -> DataFrame:
    """Append a 1-based global rank over ``order_cols`` (must be a
    unique key — ties across a range boundary would otherwise make the
    rank depend on boundary placement)."""
    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # counts + final pass must see ONE partitioning: the lazy
    # localCheckpoint pins the partitioning under the counts job
    # itself (no dedicated materialize job), and the blocks are
    # released with the RDD (a .cache() here would pin executor
    # storage for the session)
    parted = (df.repartitionByRange(num_partitions, *order_cols)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=False))
    counts = {r["__pid"]: r["cnt"]
              for r in (parted.groupBy("__pid")
                        .agg(F.count(F.lit(1)).alias("cnt")).collect())}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(*[F.lit(x) for pid in sorted(offsets)
                             for x in (pid, offsets[pid])])
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    # rank stays LONG: this operator exists for datasets too big for a
    # single window partition, where an int32 rank would overflow (and
    # throw under ANSI) past ~2.1B rows
    out = (parted
           .withColumn("__rn", F.row_number().over(w))
           .withColumn(rank_col,
                       (off_map[F.col("__pid")].cast("long")
                        + F.col("__rn")))
           .drop("__pid", "__rn"))
    return out
