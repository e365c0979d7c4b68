"""Distributed BPE vocabulary induction over a document corpus.

Byte-pair-encoding training is a corpus-scale counting problem with a
tiny iterative core: (1) reduce the corpus to a WORD-FREQUENCY table
(one shuffle — by Heaps' law the distinct-word table is orders of
magnitude smaller than a 100 TB corpus, and this is the only stage
that ever touches document text); (2) repeatedly count adjacent
symbol pairs weighted by word frequency and merge the most frequent
pair inside every word's symbol array.  Fast BPE trainers all work on
the word table for exactly this reason — the merge loop never
re-reads the corpus.

Everything here is JVM-side (`transform` / `aggregate` HOFs over
symbol arrays — no Python in any hot path).  Per merge round the
driver receives exactly ONE row (the winning pair); the word table is
`localCheckpoint`-ed each round to truncate the growing lineage, the
same loop discipline as `operators/closure.py`.

Round-1 pair statistics are plain-SQL-expressible and hash-verified
against DuckDB by the driver (`bpe_pair_stats`); the multi-round
trainer is verified against a pure-Python reference implementation in
`tests/test_functions.py`.

ANSI-mode discipline: array subscripts throw on out-of-range under
ANSI, so single-symbol words short-circuit to an empty pair array
(`sequence(1, 0)` would also yield the DECREASING sequence [1, 0],
not an empty one), and the fold reads its last element with 0-based
`get()` (NULL out of range, never a throw).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mc2skos_spark.functions.textstats import BPE_ISH_PATTERN

#: a pair seen fewer times than this is never merged
MIN_PAIR_COUNT = 2

_CHARS = "CASE WHEN length(word) < 1 THEN cast(array() AS array<string>)" \
    " ELSE transform(sequence(1, length(word)), i -> substring(word, i, 1))" \
    " END"


def word_counts(docs: DataFrame) -> DataFrame:
    """Corpus → (word, cnt, syms) word-frequency table under the
    BPE-ish pre-tokenizer, each word exploded to its character-symbol
    array.  The ONLY corpus-scale stage of BPE training."""
    return (docs
            .select(F.explode(
                F.regexp_extract_all(F.col("text"),
                                     F.lit(BPE_ISH_PATTERN), 0))
                .alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .withColumn("syms", F.expr(_CHARS)))


def _adjacent_pairs(syms_col: str) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs; empty for words of
    fewer than two symbols (never an ANSI subscript throw)."""
    return F.expr(
        f"CASE WHEN size({syms_col}) < 2"
        f" THEN cast(array() AS array<struct<a: string, b: string>>)"
        f" ELSE transform(sequence(1, size({syms_col}) - 1),"
        f"      i -> struct({syms_col}[i - 1] AS a, {syms_col}[i] AS b))"
        f" END")


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the current symbolization,
    weighted by word count: (a, b, pair_count)."""
    return (words
            .select("cnt", F.explode(_adjacent_pairs("syms")).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").cast("long").alias("pair_count")))


def bpe_pair_stats(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Round-1 BPE statistics: the ``top_k`` most frequent adjacent
    character pairs (count desc, then (a, b) asc — a total order, so
    the cutoff is deterministic in any engine)."""
    return (pair_counts(word_counts(docs))
            .orderBy(F.desc("pair_count"), "a", "b")
            .limit(top_k))


def merge_pair(syms_col: Column, a: str, b: str) -> Column:
    """Greedy leftmost BPE merge of the pair (a, b) inside one symbol
    array — a single `aggregate` fold; the merged token is not itself
    re-merged within the same round (after emitting a||b the fold's
    last element is the merged token, which no longer equals ``a``
    unless it legitimately forms the pair again)."""
    ab = a + b
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(ab))))
        .otherwise(F.concat(acc, F.array(s))))


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python BPE encode of one word: apply ``merges`` in
    training order, each as ONE greedy leftmost non-overlapping pass —
    exactly the fold semantics of :func:`merge_pair`, so encoding a
    corpus with its own trained merges reproduces the trainer's final
    symbolization.  Kept Spark-free so unit tests need no JVM."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_token_counts(docs: DataFrame,
                        merges: list[tuple[str, str]]) -> DataFrame:
    """Corpus → BPE token-frequency table ``(token, n)`` for a fixed
    merge table.

    Scale shape: the same Heaps'-law trick as training — only the
    DISTINCT-WORD table goes through Python (one Arrow-batched pandas
    UDF; the merge table rides along in the closure, broadcast once
    per executor), weighted by word count on the way out.  The corpus
    itself is touched exactly once, by the word-count shuffle.  This
    is the production tokenize-and-count stage of a training-data
    pipeline: token histograms, fertility stats, vocab coverage all
    read off the result.
    """
    import pandas as pd  # noqa: F401 (Arrow path)
    from pyspark.sql.functions import pandas_udf

    frozen = [(str(a), str(b)) for a, b in merges]

    @pandas_udf("array<string>")
    def enc(words):
        return words.map(lambda w: encode_word(w, frozen))

    return (word_counts(docs)
            .select(F.explode(enc("word")).alias("token"), "cnt")
            .groupBy("token")
            .agg(F.sum("cnt").cast("long").alias("n")))


def _select_merge_batch(cands: list[tuple[str, str, int]],
                        prior_tokens: set[str], boundary: int | None,
                        max_n: int) -> list[tuple[str, str, int]]:
    """Choose a RANKED PREFIX of candidate pairs that is provably safe
    to apply in one round with results identical to one-at-a-time
    training.  Driver-side, Spark-free (unit-tested without a JVM).

    ``cands`` is the collected candidate list ranked by the trainer's
    total order (count desc, then (a, b) asc); ``prior_tokens`` the
    concat tokens of all merges learned so far (= every multi-char
    symbol in the vocabulary); ``boundary`` the count of the LAST
    collected row when the collection was truncated (None when the
    candidate table was read exhaustively).

    Why prefix-equality holds (each rule closes one divergence window
    vs serial training; pair counts can only change through shared
    symbols or through the new concat token):

    1. *Prefix, stop at first conflict* — a later pair sharing a
       symbol with a chosen one may have had its count reduced by that
       merge, and any pair ranked between two chosen pairs is itself
       chosen, so at serial sub-step j every not-chosen old pair still
       ranks below pair_j (old counts never rise without involving a
       new token).
    2. *Concat freshness* — if a+b is already a vocabulary symbol
       (only possible via a prior merge: concats are ≥ 2 chars), the
       merge mints EXTRA occurrences of an existing symbol, silently
       raising counts of uncollected pairs that contain it — safe only
       as the round's single merge.
    3. *Truncation boundary* — with a truncated candidate list, any
       pair tied with the boundary count may have unseen peers, so
       chosen counts must stay strictly above it (every pair that
       could overtake then provably sits inside ``cands``).
    4. *Tie-overtake guard* — merging (ai, bi) creates pairs
       (x, ai·bi) / (ai·bi, y) whose counts are bounded by the OLD
       counts of parents (x, ai) / (bi, y); a created pair can beat a
       later chosen pair_j only on an exact count tie (a strictly
       greater parent would rank above pair_j and trip rule 1), and
       only if it lexically precedes pair_j — exactly the condition
       scanned here against the full candidate list.
    """
    chosen: list[tuple[str, str, int]] = []
    used: set[str] = set()
    concats: set[str] = set()
    for a, b, c in cands:
        if len(chosen) >= max_n:
            break
        if boundary is not None and c <= boundary:
            break                                           # rule 3
        if a in used or b in used or a in concats or b in concats:
            break                                           # rule 1
        ab = a + b
        if ab in prior_tokens or ab in concats:             # rule 2
            if not chosen:
                chosen.append((a, b, c))
            break
        trip = False
        for ai, bi, _ci in chosen:                          # rule 4
            tok = ai + bi
            for qa, qb, qc in cands:
                if qc < c:
                    break           # ranked: nothing below can overtake
                if (qb == ai and (qa, tok) < (a, b)) or \
                   (qa == bi and (tok, qb) < (a, b)):
                    trip = True
                    break
            if trip:
                break
        if trip:
            break
        chosen.append((a, b, c))
        used.update((a, b))
        concats.add(ab)
    return chosen


def train_bpe_merges(docs: DataFrame, n_merges: int,
                     batch_size: int = 16) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges: [(a, b, pair_count), ...] in
    merge order.  Stops early when no pair reaches ``MIN_PAIR_COUNT``.

    Scale shape: one corpus shuffle up front (word counts), then per
    round two jobs over the compact word table (pair aggregate + merge
    projection) and one small candidate batch to the driver.  The
    table is checkpointed per round, so lineage stays O(1) regardless
    of merge count.

    Batched rounds: at bench scale the loop's wall time is JOB COUNT,
    not data (each round is ~2 scheduled jobs), and a real 32k-token
    vocabulary would mean ~64k jobs one-at-a-time.  Each round
    therefore applies up to ``batch_size`` merges chosen by
    :func:`_select_merge_batch`, whose rules make the batched merge
    list PROVABLY identical to ``batch_size=1`` (the pure-serial
    shape) — pairs sharing symbols, stale-concat mints, truncated-tie
    ambiguity and created-pair tie overtakes all stop the batch.
    Non-overlapping merges dominate real vocabularies, so rounds drop
    roughly ``batch_size``-fold (parity + round-count assertions in
    ``tests/test_functions.py``).
    """
    batch_size = max(1, int(batch_size))
    cur = word_counts(docs).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    prior_tokens: set[str] = set()
    while len(merges) < int(n_merges):
        want = min(batch_size, int(n_merges) - len(merges))
        limit = max(4 * want, want + 16)
        raw = (pair_counts(cur)
               .orderBy(F.desc("pair_count"), "a", "b").limit(limit)
               .collect())
        cands = [(r["a"], r["b"], int(r["pair_count"])) for r in raw]
        truncated = len(raw) == limit
        boundary = cands[-1][2] if truncated else None
        cands = [c for c in cands if c[2] >= MIN_PAIR_COUNT]
        if not cands:
            break
        if boundary is not None and boundary < MIN_PAIR_COUNT:
            boundary = None     # every pair ≥ MIN_PAIR_COUNT was seen
        chosen = _select_merge_batch(cands, prior_tokens, boundary, want)
        if not chosen:
            # boundary rule rejected even the top pair (a truncated
            # all-tied head): fall back to one provably-correct serial
            # step — the top of the total order is always the serial
            # pick regardless of truncation
            chosen = cands[:1]
        syms = F.col("syms")
        for a, b, c in chosen:
            merges.append((a, b, c))
            prior_tokens.add(a + b)
            syms = merge_pair(syms, a, b)
        cur = (cur.select("word", "cnt", syms.alias("syms"))
               .localCheckpoint())
    return merges
