"""Language-model quality filtering for training-data pipelines.

The CCNet-style corpus filter (Wenzek et al. 2020): score every
document by its negative log-likelihood under a language model and gate
on the score — documents far from the reference distribution
(boilerplate, lorem-ipsum, non-language noise) score high and are
dropped.  CCNet uses a 5-gram KenLM; :func:`ngram_nll_scores` is the
order-parameterized distributed re-expression (one transition-table
builder for every order — the bigram/trigram members are thin wrappers
and order 5 is CCNet's actual configuration), while
:func:`lm_nll_scores` keeps the unigram member separate because it is
the one that supports an EXTERNAL reference-corpus LM with an OOV
fallback.

Scale shape (100 TB):

* the corpus is tokenized ONCE into a per-document **distinct-token**
  frequency table ``(doc_id, token, tf)`` — Heaps' law makes that table
  far smaller than the raw token stream, and it is the only thing that
  shuffles;
* the LM itself is vocabulary-sized.  Self-training (``lm=None``)
  derives it from the same tf table with one extra aggregate — no
  second corpus scan; production passes a precomputed ``(token, cnt)``
  reference-corpus table and the score join is a plain equi-join on
  ``token`` (AQE broadcasts it when the vocabulary fits);
* per-token log-probabilities are **floor-truncated to 1e-4 and summed
  as integers** — a double sum per document would be summation-order-
  dependent and could differ between Spark and the DuckDB oracle in the
  last ulp (the same discipline as
  :mod:`mc2skos_spark.functions.retrieval`).

Laplace (add-1) smoothing keeps every probability finite, so an OOV
token under an external LM scores ``ln(1 / (total + V))`` rather than
-inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mc2skos_spark.functions.textstats import tokens

SCALE = 10_000


def doc_term_freq(documents: DataFrame) -> DataFrame:
    """Per-document distinct-token frequencies ``(doc_id, token, tf)``:
    lowercased whitespace tokens, one row per (doc, distinct token).
    Documents with no tokens contribute no rows."""
    return (documents
            .select(F.col("doc_id"),
                    F.explode(tokens(F.lower(F.col("text"))))
                    .alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def unigram_lm(documents: DataFrame) -> DataFrame:
    """Train a unigram LM: corpus-wide ``(token, cnt)`` counts.  In
    production this is written once per reference-corpus snapshot and
    passed to :func:`lm_nll_scores` for every scoring run."""
    return (doc_term_freq(documents)
            .groupBy("token")
            .agg(F.sum("tf").alias("cnt")))


def lm_nll_scores(documents: DataFrame,
                  lm: DataFrame | None = None) -> DataFrame:
    """Per-document unigram negative log-likelihood under ``lm``.

    Returns ``(doc_id, n_tokens, nll_q, avg_nll)`` where ``nll_q`` is
    the exact integer sum of 1e-4-quantized per-token NLLs (long —
    order-independent, so the hash-compare is deterministic under any
    shuffle order) and ``avg_nll`` = per-token average in nats, floor-
    truncated to 4 decimals.  Higher = less like the LM's corpus; gate
    with ``.filter(F.col("avg_nll") <= cutoff)``.

    ``lm=None`` self-trains on ``documents`` (the "score the corpus by
    itself" diagnostic); passing a precomputed ``(token, cnt)`` table is
    the production path and skips the extra aggregate.  The external
    table must have ONE row per token (what :func:`unigram_lm`
    produces) — duplicate token rows would fan out the score join.
    Empty documents have no tokens and therefore no score row.
    """
    tf = doc_term_freq(documents)
    if lm is None:
        # one extra aggregate over the SAME tf table — the corpus scan
        # is not repeated; lineage-cut so tf materializes once for both
        # the LM aggregate and the scoring join
        tf = tf.localCheckpoint(eager=False)
        lm = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
        # lm feeds BOTH the stats aggregate and the logp table — cut
        # the lineage so the vocab aggregate (its token-keyed shuffle)
        # runs once, not once per consumer
        lm = lm.localCheckpoint(eager=False)

    stats = lm.agg(F.sum("cnt").cast("long").alias("total"),
                   F.count(F.lit(1)).cast("long").alias("v"))
    # add-1 smoothed, quantized per-token log-prob (negative long).
    # (cnt+1)/(total+v) is one IEEE double division of exact integers —
    # identical in every engine; ln parity at 1e-4 truncation is the
    # same bet retrieval.py's BM25 idf already wins.
    logp = (lm.crossJoin(F.broadcast(stats))
            .select("token",
                    F.floor(F.log((F.col("cnt") + 1.0)
                                  / (F.col("total") + F.col("v")))
                            * SCALE)
                    .cast("long").alias("lp")))

    # OOV under an external LM: cnt = 0 → ln(1/(total+v)) via the
    # 1-row broadcast stats frame; the coalesce never fires for a
    # self-trained LM
    scored = (tf.join(logp, "token", "left")
              .crossJoin(F.broadcast(stats))
              .select(
                  F.col("doc_id"), "tf",
                  F.coalesce(
                      F.col("lp"),
                      F.floor(F.log(1.0 / (F.col("total")
                                           + F.col("v"))) * SCALE)
                      .cast("long")).alias("lp")))

    return (scored
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("n_tokens"),
                 (-F.sum(F.col("tf") * F.col("lp"))).alias("nll_q"),
                 (F.floor(-F.sum(F.col("tf") * F.col("lp"))
                          / F.sum("tf")) / F.lit(float(SCALE)))
                 .alias("avg_nll")))


def ngram_nll_scores(documents: DataFrame, order: int,
                     lams: list | None = None) -> DataFrame:
    """Per-document NLL under a self-trained INTERPOLATED order-n LM —
    the distributed re-expression of CCNet's KenLM filter (Wenzek et
    al. 2020; their production order is 5), one builder for every
    order:

        p(wn | w1..wn−1) = Σ_{k=n..2} lam_k·(c_k(last k)+1)/(c_{k−1}(k−1
                           words ending at wn−1)+V)
                         + lam_1·(c_1(wn)+1)/(total+V)

    (add-1 everywhere keeps probabilities finite).  ``lams`` gives the
    weights for the order-n..2 terms; the unigram weight is the
    remainder.  The default halves order by order — 0.5, 0.25, … — so
    every weight (including the remainder, 2^−(n−1)) is an exactly-
    representable double and the literal probability expression tree is
    bit-identical in the DuckDB oracle.  Only full order-n transitions
    are scored; docs with < n tokens get no row.

    Scale shape (the same at every order, round 7): the corpus is
    tokenized ONCE and every k-gram (k = 1..n) is hashed ONCE with
    two-level hashing — each token's string is hashed once,
    ``h_1(i) = xxhash64(tok_i)``, and every longer gram hashes those
    LONGS, ``h_k(i) = xxhash64(h_1(i), …, h_1(i+k−1))`` for k ≥ 2 —
    into a lineage-cut per-document array of (h1..hn) structs; every
    downstream table re-slices those LONGS.  The per-doc DISTINCT-
    transition table groups (id, h_n) — 8-byte keys through the only
    corpus-scale shuffle instead of n short strings (Heaps' law keeps
    the table far below the raw token stream); ALL lower-order c_k
    tables come out of ONE flattened (k, h) explode + ONE hash
    aggregate; the corpus-wide c_n aggregate attaches each distinct
    n-gram's suffix/context hashes (they are other positions' h_k —
    array lookups, not re-hashes); the logp table is built with
    2(n−1) equi-joins on LONG keys (AQE broadcasts the small sides)
    and joined back once on h_n.  Hash-keying merges two DISTINCT
    grams only on a 64-bit collision among the observed grams' keys
    (for k ≥ 2 a collision of the token-hash tuples' hashes; still
    ~m²/2⁶⁵ — the same argument as the substring-span window keys
    and paragraph election keys; k is fixed per table/join so gram
    lengths never share a key space, and the DuckDB oracle still
    counts by TEXT, cross-checking the shortcut at every graded SF).
    Per-transition logps are 1e-4-quantized and summed as LONGS so
    the per-doc sum is order-independent.  Lower-order context counts
    come from their OWN positions — deriving c_{n−1} from the c_n
    table would miss each document's final (n−1)-gram.

    Returns ``(doc_id, n_transitions, nll_q, avg_nll)`` (callers
    wanting order-suffixed names alias them — see
    :func:`bigram_nll_scores` / :func:`trigram_nll_scores`).
    """
    n = int(order)
    if n < 2:
        raise ValueError(
            "order must be >= 2 (use lm_nll_scores for the unigram "
            "member, which also supports an external LM), got %d" % n)
    if lams is None:
        lams = [2.0 ** -(j + 1) for j in range(n - 1)]
    lams = [float(x) for x in lams]
    if len(lams) != n - 1:
        raise ValueError("need %d interpolation weights for order %d "
                         "(terms n..2), got %d" % (n - 1, n, len(lams)))
    lam1 = 1.0
    for x in lams:          # same left fold as `1.0 - lam3 - lam2`
        lam1 -= x

    from mc2skos_spark.functions.textstats import _once

    # hash every k-gram ONCE: per position i (1-based), h_1 =
    # xxhash64(tok_i) and h_k = xxhash64(h_1(i)..h_1(i+k-1)) for
    # k = 2..n (two-level, see below), null past the
    # document tail; the lineage cut materializes these long arrays
    # one time for all three consumers (transition table, lower-order
    # counts, suffix/context attachments).  F.get is 0-indexed and
    # null-safe; when() keeps the empty-doc branch lazy (ANSI
    # sequence(1, 0) would error).
    hp_type = "array<struct<%s>>" % ",".join(
        "h%d:bigint" % k for k in range(1, n + 1))

    # two-level hashing: each token is string-hashed ONCE (h1), and
    # every k-gram key is xxhash64 over the k token-hash LONGS — fixed
    # 8-byte field hashing instead of re-walking the same token bytes
    # k times per order (the map pass was ~80% of the residual lm5
    # cost; long-tuple hashing measures at the cost of h1 alone).
    # Distinctness class is unchanged: two distinct k-grams share a key
    # only on a 64-bit collision (now of the hash tuple), the same
    # ~m²/2⁶⁵ bound as before, still cross-checked by the text-keyed
    # DuckDB oracle at every graded SF.
    def hp_of(tk):
        h1 = F.transform(tk, lambda s: F.xxhash64(s))

        def pos_of(hh):
            L = F.size(hh)
            pos = F.transform(
                F.sequence(F.lit(1), L),
                lambda i: F.struct(
                    F.get(hh, i - 1).alias("h1"),
                    *[F.when(i + (k - 1) <= L,
                             F.xxhash64(*[F.get(hh, i + j - 1)
                                          for j in range(k)]))
                      .otherwise(F.lit(None).cast("long"))
                      .alias("h%d" % k)
                      for k in range(2, n + 1)]))
            return F.when(L >= 1, pos).otherwise(F.array().cast(hp_type))

        return _once(h1, pos_of, F.array().cast(hp_type))

    hs = (documents
          .select(F.col("doc_id"),
                  _once(tokens(F.lower(F.col("text"))), hp_of,
                        F.array().cast(hp_type)).alias("__hp"))
          .localCheckpoint(eager=False))

    # per-doc DISTINCT-transition table: (id, h_n, tf) — the only
    # corpus-scale shuffle, keyed by one long
    tfn = (hs.select(F.col("doc_id"), F.explode("__hp").alias("p"))
           .select(F.col("doc_id"), F.col("p.h%d" % n).alias("h"))
           .filter(F.col("h").isNotNull())
           .groupBy("doc_id", "h")
           .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    tfn = tfn.localCheckpoint(eager=False)      # feeds scoring twice

    # ALL lower-order corpus counts from ONE flattened (k, h) explode
    # + ONE aggregate (k in the group key keeps the per-order hash
    # spaces separate); each slice is consumed 2-3x (continuation +
    # context joins, c_1 also the stats aggregate) — lineage-cut so
    # the aggregate shuffles once
    karr = F.flatten(F.transform(
        F.col("__hp"),
        lambda p: F.array(*[F.struct(F.lit(k).alias("k"),
                                     p["h%d" % k].alias("h"))
                            for k in range(1, n)])))
    ck_all = (hs.select(F.explode(karr).alias("q"))
              .select("q.k", "q.h")
              .filter(F.col("h").isNotNull())
              .groupBy("k", "h")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
              .localCheckpoint(eager=False))
    cks = {k: ck_all.filter(F.col("k") == k).select("h", "cnt")
           for k in range(1, n)}

    # corpus-wide c_n with each distinct n-gram's suffix/context
    # hashes attached: the length-k SUFFIX hash is position
    # (i + n − k)'s h_k and the k words ENDING AT w_{n−1} are position
    # (i + n − 1 − k)'s h_k — array lookups into the bound hash
    # structs (always in bounds and non-null for i <= L − n + 1), so
    # nothing is re-hashed.  min() collapses the per-occurrence
    # constants.
    hpc = F.col("__hp")
    Lc = F.size(hpc)

    def aux_of(i):
        return F.struct(
            F.get(hpc, i - 1)["h%d" % n].alias("h"),
            *[F.get(hpc, i - 1 + n - k)["h%d" % k].alias("hs%d" % k)
              for k in range(1, n)],
            *[F.get(hpc, i - 1 + n - 1 - k)["h%d" % k].alias("hx%d" % k)
              for k in range(1, n)])

    aux_type = ("array<struct<h:bigint,%s,%s>>"
                % (",".join("hs%d:bigint" % k for k in range(1, n)),
                   ",".join("hx%d:bigint" % k for k in range(1, n))))
    caux = F.when(Lc >= n,
                  F.transform(F.sequence(F.lit(1), Lc - (n - 1)),
                              aux_of)).otherwise(F.array().cast(aux_type))
    cn = (hs.select(F.explode(caux).alias("p"))
          .select("p.*")
          .groupBy("h")
          .agg(F.count(F.lit(1)).cast("long").alias("c%d" % n),
               *[F.min("hs%d" % k).alias("hs%d" % k)
                 for k in range(1, n)],
               *[F.min("hx%d" % k).alias("hx%d" % k)
                 for k in range(1, n)]))
    stats = cks[1].agg(F.sum("cnt").cast("long").alias("total"),
                       F.count(F.lit(1)).cast("long").alias("v"))

    # join every lower-order table twice against the c_n rows: once on
    # the length-k SUFFIX hash (term numerators) and once on the k
    # words ENDING AT wn-1 (term denominators) — long-keyed equi-joins
    logp = cn
    for k in range(1, n):
        logp = logp.join(
            cks[k].select(F.col("h").alias("hs%d" % k),
                          F.col("cnt").alias("s%d" % k)), "hs%d" % k)
        logp = logp.join(
            cks[k].select(F.col("h").alias("hx%d" % k),
                          F.col("cnt").alias("x%d" % k)), "hx%d" % k)
    terms = lams[0] * ((F.col("c%d" % n) + 1.0)
                       / (F.col("x%d" % (n - 1)) + F.col("v")))
    for j in range(n - 1, 1, -1):               # terms n-1 .. 2
        terms = terms + lams[n - j] * (
            (F.col("s%d" % j) + 1.0)
            / (F.col("x%d" % (j - 1)) + F.col("v")))
    terms = terms + lam1 * ((F.col("s1") + 1.0)
                            / (F.col("total") + F.col("v")))
    logp = (logp.crossJoin(F.broadcast(stats))
            .select(F.col("h"),
                    F.floor(F.log(terms) * SCALE)
                    .cast("long").alias("lp")))

    return (tfn.join(logp, "h")
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("n_transitions"),
                 (-F.sum(F.col("tf") * F.col("lp"))).alias("nll_q"),
                 (F.floor(-F.sum(F.col("tf") * F.col("lp"))
                          / F.sum("tf")) / F.lit(float(SCALE)))
                 .alias("avg_nll")))


def bigram_nll_scores(documents: DataFrame) -> DataFrame:
    """Order-2 member of :func:`ngram_nll_scores` with its historical
    column names ``(doc_id, n_transitions, nll2_q, avg_nll2)``."""
    out = ngram_nll_scores(documents, 2, [0.5])
    return out.select(F.col("doc_id"), "n_transitions",
                      F.col("nll_q").alias("nll2_q"),
                      F.col("avg_nll").alias("avg_nll2"))


def trigram_nll_scores(documents: DataFrame) -> DataFrame:
    """Order-3 member of :func:`ngram_nll_scores` with its historical
    column names ``(doc_id, n_transitions3, nll3_q, avg_nll3)``."""
    out = ngram_nll_scores(documents, 3, [0.5, 0.25])
    return out.select(F.col("doc_id"),
                      F.col("n_transitions").alias("n_transitions3"),
                      F.col("nll_q").alias("nll3_q"),
                      F.col("avg_nll").alias("avg_nll3"))


def perplexity_buckets(documents: DataFrame, order: int = 2) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3):
    score every document under the self-trained order-n LM
    (:func:`ngram_nll_scores`), then bucket each LANGUAGE's documents
    into perplexity thirds — ``head`` = the lowest-NLL (most fluent)
    third, ``tail`` = the highest.  CCNet trains on Wikipedia and
    filters CommonCrawl; self-training on the corpus itself is the
    single-table variant with identical plumbing.

    Cutoffs are INTEGER-exact, not interpolated: per-doc score is
    ``floor(nll_q / n_transitions)`` (the 1e-4-quantized mean NLL as
    a long), and the k/3 cutoff is the smallest score whose cumulative
    doc count reaches ``ceil(k·n/3)`` — computed as ``3·cum ≥ k·n`` so
    the DuckDB oracle replicates it with no float percentile in
    either engine.  Ties share a bucket (same score ⇒ same label), so
    thirds are approximate exactly when scores tie — the standard
    discrete-quantile contract.

    Scale shape: scoring is the :func:`ngram_nll_scores` plan; the
    cutoff pass runs on the (lang, score) HISTOGRAM — one hash
    aggregate over docs, then a window over distinct scores per
    language (bounded by score cardinality, not corpus size) — and
    the per-language cutoff table (1 row per language) broadcast-joins
    back.  No window ever partitions over the full document table.

    Returns ``(doc_id, lang, avg_q, bucket)``.
    """
    from pyspark.sql.window import Window
    nll = ngram_nll_scores(documents, order)
    scored = (nll.join(documents.select("doc_id", "lang"), "doc_id")
              .select("doc_id", F.col("lang").alias("lang"),
                      F.floor(F.col("nll_q") / F.col("n_transitions"))
                      .cast("long").alias("avg_q"))
              .localCheckpoint(eager=False))   # feeds histogram + label
    hist = scored.groupBy("lang", "avg_q").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = (Window.partitionBy("lang").orderBy("avg_q")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select("lang", "avg_q",
                      F.sum("c").over(w).alias("cum"),
                      F.sum("c").over(Window.partitionBy("lang"))
                      .alias("n"))
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"),
                     F.col("avg_q"))).alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= F.col("n") * 2,
                     F.col("avg_q"))).alias("c2"))
    return (scored.join(F.broadcast(cuts), "lang")
            .select("doc_id", "lang", "avg_q",
                    F.when(F.col("avg_q") <= F.col("c1"), "head")
                    .when(F.col("avg_q") <= F.col("c2"), "middle")
                    .otherwise("tail").alias("bucket")))
