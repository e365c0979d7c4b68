"""Temporal joins Spark's DataFrame API lacks: as-of and interval.

Both are classic lakehouse operators (pandas ``merge_asof``, DuckDB
``ASOF JOIN``, Databricks range-join hints) that naive SQL expresses
as an inequality join — which Spark plans as BroadcastNestedLoopJoin
or a cartesian product, both fatal at 100 TB.  The implementations
here are pure DataFrame compositions with linear shuffle cost:

- :func:`asof_join` — the union+window trick: tag both sides, union,
  ONE shuffle on the equality key, one sort, then a running
  ``last(ignorenulls)`` carries the most recent right payload forward
  onto each left row.  O(|L|+|R|) rows through one exchange; no
  inequality join anywhere in the plan.
- :func:`interval_join` — bucketed overlap join: explode each
  interval into fixed-width buckets, equi-join on (keys, bucket),
  re-filter the true overlap, and keep each pair only in the ONE
  bucket containing ``greatest(l_start, r_start)`` — every
  overlapping pair survives exactly once, so no dedup pass.  Shuffle
  volume is rows × (interval/width + 1); callers pick the width near
  the typical interval length.

Determinism: the as-of join expects at most one right row per (key,
ts); callers de-duplicate the right side first, so results are stable
under any shuffle order.  Null keys / null timestamps on the right
never match (SQL semantics); unmatched left rows survive with null
payloads.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

_TS = "__asof_ts"
_SIDE = "__asof_side"
_PAY = "__asof_payload"
_ROW = "__asof_lrow"


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str,
              value_cols: Sequence[str],
              block_us: int | None = None) -> DataFrame:
    """For each left row, attach the right row per key with the
    greatest ``right_ts`` <= ``left_ts`` (a backward as-of match,
    inclusive, like DuckDB ``ASOF JOIN ... >=`` and pandas
    ``merge_asof``).  Left-join semantics: every left row survives; the
    attached ``value_cols`` (plus ``matched_ts``) are null when no
    right row qualifies.  Callers de-duplicate (key, ts) on the right:
    among right rows sharing one, the pick follows shuffle order.

    Plan shape: union → ONE Exchange on ``on`` → Sort → running
    ``last(ignorenulls)`` window → filter.  A pathologically hot key
    bounds one task (inherent to per-key ordered semantics — same
    note as sessionize) — UNLESS ``block_us`` is set: the block-salted
    two-phase variant (the ``reassemble_records(block_size=...)``
    trick in time) windows within ``(key, floor(ts/block_us))`` blocks
    so a hot key spreads over many tasks, then carries each block's
    boundary payload forward with a second window over the
    metadata-scale per-(key, block) summary table.  Semantics are
    IDENTICAL to the unsalted path (equality pytest in
    ``tests/test_temporal.py``); pick ``block_us`` so a hot key's rows
    per block fit a task comfortably.
    """
    on = list(on)
    bad = set(on) & set(value_cols)
    if bad:
        raise ValueError("asof_join: value_cols overlap keys: %s" % bad)
    clash = set(left.columns) & (set(value_cols) | {"matched_ts"})
    if clash:
        raise ValueError(
            "asof_join: output columns %s collide with left columns — "
            "rename the right value columns first" % sorted(clash))

    payload_cols = [F.col(c) for c in value_cols] + [
        F.col(right_ts).alias("matched_ts")]
    pay_t = right.select(F.struct(*payload_cols).alias(_PAY)) \
        .schema[_PAY].dataType
    row_t = left.select(F.struct("*").alias(_ROW)).schema[_ROW].dataType
    # right rows with a null key or null ts can never match (SQL
    # equality/inequality semantics) — drop them before the union so
    # Spark's null-grouping partitioner cannot pair them with left
    # null keys
    r_valid = right.na.drop(subset=on + [right_ts])
    r_side = r_valid.select(
        *on, F.col(right_ts).alias(_TS), F.lit(0).alias(_SIDE),
        F.struct(*payload_cols).alias(_PAY),
        F.lit(None).cast(row_t).alias(_ROW))
    l_side = left.select(
        *on, F.col(left_ts).alias(_TS), F.lit(1).alias(_SIDE),
        F.lit(None).cast(pay_t).alias(_PAY),
        F.struct("*").alias(_ROW))
    # right sorts before left at equal ts: the match is inclusive
    order = [F.col(_TS).asc_nulls_first(), F.col(_SIDE).asc()]

    unioned = r_side.unionByName(l_side)
    if block_us is None:
        w = (Window.partitionBy(*on).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        matched = (unioned
                   .withColumn(_PAY,
                               F.last(_PAY, ignorenulls=True).over(w))
                   .filter(F.col(_SIDE) == 1))
    else:
        if block_us <= 0:
            raise ValueError("asof_join: block_us must be positive")
        dt = dict(unioned.dtypes)[_TS]
        if dt == "timestamp":
            us = F.unix_micros
        elif dt == "timestamp_ntz":
            us = _ntz_micros
        else:                           # already-numeric event time
            us = lambda c: c            # noqa: E731
        blk = "__asof_blk"
        unioned = unioned.withColumn(
            blk, F.floor(us(F.col(_TS)) / int(block_us)).cast("long"))
        # phase 1: the running last WITHIN each (key, time-block) —
        # the hot key's rows now spread over len(time range)/block_us
        # tasks instead of one
        wb = (Window.partitionBy(*on, blk).orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        local = unioned.withColumn(
            _PAY, F.last(_PAY, ignorenulls=True).over(wb))
        # phase 2: per-(key, block) boundary summary — the latest
        # right payload of each block — then a running last over the
        # ordered block table (metadata-scale: one row per (key,
        # block)) shifted one block back yields the carry from earlier
        # blocks
        summary = (unioned.filter(F.col(_SIDE) == 0)
                   .groupBy(*on, blk)
                   .agg(F.max_by(_PAY, us(F.col(_TS)))
                        .alias("__blk_last")))
        wc = (Window.partitionBy(*on).orderBy(F.col(blk).asc())
              .rowsBetween(Window.unboundedPreceding, -1))
        # null-SAFE joins throughout: left rows with a null key or a
        # null ts must survive with a null payload exactly like the
        # unsalted window path (which groups nulls), not vanish in an
        # equi-join
        def _nullsafe_join(lhs, rhs, cols, how):
            renamed = rhs
            for c in cols:
                renamed = renamed.withColumnRenamed(c, "__r0_" + c)
            cond = F.lit(True)
            for c in cols:
                cond = cond & lhs[c].eqNullSafe(F.col("__r0_" + c))
            return (lhs.join(renamed, cond, how)
                    .drop(*["__r0_" + c for c in cols]))

        blocks = local.select(*on, blk).distinct()
        carry = (_nullsafe_join(blocks, summary, on + [blk], "left")
                 .withColumn("__carry",
                             F.last("__blk_last", ignorenulls=True)
                             .over(wc))
                 .select(*on, blk, "__carry"))
        matched = (_nullsafe_join(local, carry, on + [blk], "inner")
                   .withColumn(_PAY,
                               F.when(F.col(_TS).isNotNull(),
                                      F.coalesce(F.col(_PAY),
                                                 F.col("__carry")))
                               .otherwise(F.col(_PAY)))
                   .filter(F.col(_SIDE) == 1)
                   .drop(blk, "__carry"))

    out_cols = [F.col(_ROW)[f.name].alias(f.name) for f in row_t.fields]
    out_cols += [F.col(_PAY)[c].alias(c) for c in value_cols]
    out_cols.append(F.col(_PAY)["matched_ts"].alias("matched_ts"))
    return matched.select(*out_cols)


def _ntz_micros(c):
    from mc2skos_spark.operators.sessionize import event_micros
    return event_micros(c)


def interval_join(left: DataFrame, right: DataFrame,
                  on: Sequence[str],
                  l_start: str, l_end: str,
                  r_start: str, r_end: str,
                  bucket_width: int) -> DataFrame:
    """Inclusive interval-overlap equi-join without a dedup pass.

    Emits one row per (left, right) pair whose closed intervals
    ``[l_start, l_end]`` and ``[r_start, r_end]`` overlap and whose
    ``on`` keys are equal (``on`` may be empty for a pure range
    join).  Start/end are any integer columns (callers convert
    timestamps to epoch micros first — exact arithmetic, TZ-proof).

    Strategy: each side explodes into the fixed-width buckets its
    interval covers, the join is an equi-join on (keys, bucket), and
    the pair is kept only in the bucket containing
    ``greatest(l_start, r_start)`` — for an overlapping pair that
    bucket lies inside BOTH intervals and is unique, so each pair
    appears exactly once without a distinct.  Explosion factor is
    ``len/width + 1`` per row; pick ``bucket_width`` near the typical
    interval length.  At 100 TB this is the Databricks range-join
    optimization expressed in plain DataFrame ops: shuffle volume is
    linear in exploded rows, never quadratic, and AQE handles bucket
    skew (a globally hot time window is split by the (keys, bucket)
    hash).

    Column names of ``left`` and ``right`` must be disjoint apart
    from ``on`` (rename before calling; the returned frame carries
    both sides' columns).
    """
    if bucket_width <= 0:
        raise ValueError("interval_join: bucket_width must be positive")
    on = list(on)
    overlap_l = set(left.columns) & set(right.columns) - set(on)
    if overlap_l:
        raise ValueError(
            "interval_join: ambiguous columns %s — rename one side"
            % sorted(overlap_l))
    w = int(bucket_width)

    def buckets(df, s, e):
        lo = F.floor(F.col(s) / w).cast("long")
        hi = F.floor(F.col(e) / w).cast("long")
        return df.filter(F.col(s) <= F.col(e)).withColumn(
            "__bucket", F.explode(F.sequence(lo, hi)))

    lb = buckets(left, l_start, l_end)
    rb = buckets(right, r_start, r_end).withColumnRenamed(
        "__bucket", "__rbucket")
    for k in on:
        rb = rb.withColumnRenamed(k, "__r_" + k)
    cond = F.col("__bucket") == F.col("__rbucket")
    for k in on:
        cond = cond & (F.col(k) == F.col("__r_" + k))
    anchor = F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / w).cast("long")
    pairs = (lb.join(rb, cond)
             .filter((F.col(l_start) <= F.col(r_end)) &
                     (F.col(r_start) <= F.col(l_end)) &
                     (F.col("__bucket") == anchor)))
    drop = ["__bucket", "__rbucket"] + ["__r_" + k for k in on]
    return pairs.drop(*drop)


def fixed_band_self_pairs(df: DataFrame, on: Sequence[str],
                          id_col: str, start_col: str,
                          band: int) -> DataFrame:
    """Unordered pairs of same-``on``-key rows whose fixed-length
    closed intervals ``[start, start + band]`` overlap — equivalently
    ``|s_a − s_b| <= band`` — each emitted EXACTLY once as
    ``(*on, a_id, b_id)`` with ``a_id < b_id`` (ids must be
    distinct per row; start/id any orderable integer columns).

    The specialized self-join case of :func:`interval_join` (which
    stays the operator for ragged interval lengths): with one shared
    length, the pair can be enumerated in (start, id) order — the
    probe side keys each row by its single start bucket (NO explode),
    the anchor side explodes into just the two buckets where a
    later-starting partner can begin (``band`` == bucket width, so
    ``floor((s+band)/band) == floor(s/band)+1`` exactly), and the
    strict (start, id) tiebreak generates each unordered pair once —
    no anchor-dedup filter, no both-orientations enumeration, no
    width-suggestion pre-pass.  Versus the generic operator on the
    same input: 3N exploded rows instead of 4N, and HALF the candidate
    pairs out of the equi-join (the generic plan enumerates both
    orientations of every pair and filters one later).  Identity with
    the generic plan is pytest-pinned
    (``test_fixed_band_matches_interval_join``).
    """
    if band <= 0:
        raise ValueError("fixed_band_self_pairs: band must be positive")
    on = list(on)
    w = int(band)
    anchor = (df.select(*on, F.col(id_col).alias("__a_id"),
                        F.col(start_col).alias("__a_s"))
              .withColumn("__sb", F.explode(F.sequence(
                  F.floor(F.col("__a_s") / w).cast("long"),
                  F.floor(F.col("__a_s") / w).cast("long") + F.lit(1)))))
    probe = (df.select(
        *[F.col(k).alias("__r_" + k) for k in on],
        F.col(id_col).alias("__b_id"),
        F.col(start_col).alias("__b_s"),
        F.floor(F.col(start_col) / w).cast("long").alias("__rb")))
    cond = F.col("__sb") == F.col("__rb")
    for k in on:
        cond = cond & (F.col(k) == F.col("__r_" + k))
    a_s, b_s = F.col("__a_s"), F.col("__b_s")
    a_id, b_id = F.col("__a_id"), F.col("__b_id")
    later = (b_s > a_s) | ((b_s == a_s) & (b_id > a_id))
    pairs = (anchor.join(probe, cond)
             .filter(later & (b_s <= a_s + F.lit(w))))
    return pairs.select(
        *on,
        F.least(a_id, b_id).alias("a_id"),
        F.greatest(a_id, b_id).alias("b_id"))
