"""Deterministic sampling operators for training-data pipelines.

Corpus mixing is a first-class pre-training step: downsample
low-quality strata, upsample scarce languages, hold out eval slices —
and it must be DETERMINISTIC (re-runs and resumed jobs must pick the
same rows; ``df.sample`` is partition-layout-dependent and not
reproducible across repartitions).

The decision here is a pure function of the row id: two rounds of
multiply-mod-2³¹ + xorshift (a splitmix-style finalizer) mapped to
[0, 1) and compared to the stratum's rate.  A single affine map
(LCG-style) is NOT enough — it is linear in the id, so decisions
repeat at the modulus lag and arithmetic-progression ids get strongly
serially-correlated fractions; the xorshift rounds break the
linearity.  All arithmetic stays within exact int64 range (ANSI mode
throws on overflow) and is plain-SQL-mirrorable (%, *, +, integer
div, xor), so the driver oracle verifies the exact row selection.
Production pipelines with opaque string keys would use ``xxhash64``
instead — same shape, same determinism, minus the cross-engine
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_M31 = 1 << 31            # working modulus: products stay below 2^63
_MUL1 = 2654435761        # Knuth multiplicative constants
_INC1 = 1013904223
_MUL2 = 1540483477


def hash_fraction(id_col) -> Column:
    """Deterministic pseudo-uniform [0, 1) from an integer id.
    Partition-layout-independent: depends on the id value only.

    Precondition: ids must be NON-NEGATIVE (the documents-table
    contract).  For negative ids Spark's ``pmod``/``shiftrightunsigned``
    and ANSI-SQL's sign-preserving ``%`` / floor ``//`` diverge, so the
    cross-engine oracle guarantee would not hold — enforced here with a
    row-level ``assert_true`` (one codegen comparison) so a violation
    fails LOUDLY at run time instead of silently returning a selection
    that diverges from the SQL oracle."""
    guarded = F.coalesce(
        F.assert_true(id_col >= 0,
                      F.lit("hash_fraction: id must be non-negative "
                            "(negative ids break SQL-oracle parity)"))
         .cast("long"),
        id_col)
    x = F.pmod(F.pmod(guarded, F.lit(_M31)) * _MUL1 + _INC1, F.lit(_M31))
    x = x.bitwiseXOR(F.shiftrightunsigned(x, 16))
    x = F.pmod(x * _MUL2, F.lit(_M31))
    x = x.bitwiseXOR(F.shiftrightunsigned(x, 16))
    return x / F.lit(float(_M31))


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float],
                      default_rate: float = 1.0) -> DataFrame:
    """Keep each row with its stratum's probability, decided by the
    row's deterministic hash fraction.  One codegen filter on the scan
    — no shuffle, no RNG state, stable under retries/resume.

    ``rates`` maps stratum value → keep rate in [0, 1]; unlisted
    strata use ``default_rate``.

    Plan-size note: the rates become a ``when``-chain — O(len(rates))
    literals in ONE codegen filter, which is the right trade for a
    CONFIG-sized dict (per-language rates: dozens) because the scan
    keeps its no-shuffle, no-join shape.  It is deliberately NOT the
    shape for data-derived strata (thousands+): that is
    :func:`mixture_weighted_sample`'s broadcast-join path, where the
    rate table is data.  Enforced with a hard cap so the literal
    expression tree can never creep toward plan-build failure the way
    unbounded literal embedding does.
    """
    if len(rates) > 256:
        raise ValueError(
            "stratified_sample: %d rates — a when-chain is for "
            "config-sized rate maps; derive rates as data and join "
            "them (see mixture_weighted_sample) instead"
            % len(rates))
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))) \
                .otherwise(rate)
    return df.filter(hash_fraction(F.col("doc_id")) < rate)


def mixture_weighted_sample(df: DataFrame, strata_col: str,
                            budget_frac: float) -> DataFrame:
    """Temperature-scaled corpus mixing (multilingual alpha-sampling
    with alpha = 0.5): derive per-stratum keep rates so the SAMPLED
    token mixture follows sqrt-scaled stratum shares — scarce strata
    are upsampled relative to their raw share, dominant ones
    downsampled — within a total token budget of ``budget_frac`` x
    the corpus.  rate_s = min(1, budget * target_share_s / tokens_s)
    with target_share_s = sqrt(tokens_s) / sum(sqrt(tokens_t)).

    Fully distributed: one partial-combined aggregate builds the
    (tiny) per-stratum stats table, the rates broadcast-join back
    onto the corpus, and the keep decision is the same pure
    ``hash_fraction`` as ``stratified_sample`` — deterministic under
    retries, resumes and repartitions.  Nothing row-scale ever
    reaches the driver.

    Cross-engine exactness (the driver oracle hash-compares the exact
    row selection): the weight is floor(sqrt(tokens)) folded back to
    INT64 — IEEE sqrt is correctly rounded, and for any token count
    below ~1e24 the floor cannot straddle a perfect-square boundary,
    so both engines get the identical integer weight; the weight SUM
    then happens in exact integer arithmetic (double summation would
    be addition-order-dependent and is NOT reproducible across
    engines).  The final rate is built from two exactly-rounded
    double products and one division, parenthesized identically in
    the SQL oracle.

    All-empty stratum (token sum 0): the rate denominator is 0, which
    under this session's ANSI mode would raise DIVIDE_BY_ZERO and kill
    the job — so the division is ``try_divide`` (0/0 → NULL) and the
    stratum is dropped EXPLICITLY by the ``<`` comparison (NULL rate →
    NULL predicate → filtered).  Dropping is the right call: a stratum
    with zero tokens contributes nothing to the token budget.  The
    DuckDB oracle reaches the same outcome through float division
    (0/0 → NaN, and ``x < NaN`` is false).
    """
    st = (df.groupBy(strata_col)
          .agg(F.sum("n_tokens").cast("long").alias("__st_tokens")))
    st = st.withColumn(
        "__w",
        F.floor(F.sqrt(F.col("__st_tokens").cast("double"))).cast("long"))
    tot = st.agg(F.sum("__st_tokens").cast("long").alias("__tot"),
                 F.sum("__w").cast("long").alias("__wsum"))
    raw = F.try_divide(
        F.lit(float(budget_frac)) * F.col("__tot").cast("double")
        * F.col("__w").cast("double"),
        F.col("__wsum").cast("double")
        * F.col("__st_tokens").cast("double"))
    # NOT F.least(1.0, raw): Spark's least/greatest SKIP nulls, so a
    # 0/0 stratum would silently get rate 1.0 (keep everything) instead
    # of being dropped — the when() keeps the NULL a NULL
    rate = F.when(raw.isNotNull(), F.least(F.lit(1.0), raw))
    rates = (st.crossJoin(F.broadcast(tot))
             .select(strata_col, rate.alias("__rate")))
    return (df.join(F.broadcast(rates), strata_col)
            .filter(hash_fraction(F.col("doc_id")) < F.col("__rate"))
            .drop("__rate"))
