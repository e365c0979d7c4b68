"""Training-data pipeline operators over the driver testdata tables."""

import os

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.functions.dedup import (exact_duplicates,
                                           minhash_lsh_candidates,
                                           minhash_signatures,
                                           minhash_similarity,
                                           ngram_jaccard_pairs, simhash,
                                           simhash_near_pairs)
from mc2skos_spark.functions.multimodal import (extract_media_features,
                                                synth_media)
from mc2skos_spark.functions.similarity import (cosine_topk, ivf_topk,
                                                lsh_bucketed_topk)

pytestmark = pytest.mark.spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()


def test_exact_duplicates(spark, documents):
    with_dups = documents.union(documents.limit(5))
    dups = exact_duplicates(with_dups, "doc_id", "text")
    assert dups.count() >= 5
    assert dups.agg(F.min("dup_count")).collect()[0][0] >= 2


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
         (3, "totally different words entirely here now")],
        ["id", "txt"])
    pairs = ngram_jaccard_pairs(df, "id", "txt", n=2, threshold=0.8,
                                max_shingle_freq=None).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_near_dups(spark, documents):
    # append a lightly perturbed copy of 3 docs
    perturbed = (documents.limit(3)
                 .select((F.col("doc_id") + 100000).alias("doc_id"),
                         F.concat(F.col("text"), F.lit(" tail")).alias("text")))
    corpus = documents.select("doc_id", "text").union(perturbed)
    sigs = minhash_signatures(corpus, "doc_id", "text", n=2,
                              num_hashes=32).cache()
    cands = minhash_lsh_candidates(sigs, bands=8)
    sims = minhash_similarity(sigs, cands)
    near = sims.filter(F.col("est_jaccard") >= 0.5)
    found = {(r["id_a"], r["id_b"]) for r in near.collect()}
    expected = {(i, i + 100000) for i in
                [r["doc_id"] for r in documents.limit(3).collect()]}
    assert expected <= found


def test_minhash_signature_hashes_are_independent(spark):
    """Regression: each signature slot must come from a DIFFERENT seeded
    hash function.  (A defaulted second lambda param once bound the seed
    to the HOF's array-index variable, collapsing all 16 slots to one
    function — every signature was 16 copies of the same minimum.)"""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["id", "txt"])
    (sig,) = minhash_signatures(df, "id", "txt", n=2,
                                num_hashes=16).collect()
    assert len(set(sig["sig"])) > 8, sig["sig"]


def test_simhash_near_pairs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely unrelated text about spark plans")],
        ["id", "txt"])
    sigs = simhash(df, "id", "txt")
    pairs = simhash_near_pairs(sigs, max_hamming=16).collect()
    ids = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (1, 2) in ids
    assert (1, 3) not in ids and (2, 3) not in ids


def test_cosine_topk_and_ann_variants(embeddings):
    query = [float(x) for x in
             embeddings.orderBy("vec_id").first()["embedding"]]
    exact = cosine_topk(embeddings, query, k=5).collect()
    assert exact[0]["vec_id"] == 0 and exact[0]["cosine"] == 1.0
    assert all(exact[i]["cosine"] >= exact[i + 1]["cosine"]
               for i in range(len(exact) - 1))

    lsh = lsh_bucketed_topk(embeddings, query, k=5).collect()
    assert lsh and lsh[0]["vec_id"] == 0  # query's own bucket contains it

    ivf = ivf_topk(embeddings, query, k=5, num_centroids=8, nprobe=8).collect()
    assert ivf and ivf[0]["vec_id"] == 0  # nprobe=all → exact


def test_embedding_near_dup_lsh_candidates_subset_of_exact(embeddings):
    from mc2skos_spark.functions.dedup import embedding_near_dup_pairs
    small = embeddings.filter(F.col("vec_id") < 300)
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_dup_pairs(small, 0.2).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in embedding_near_dup_pairs(small, 0.2, num_planes=4,
                                             dim=64).collect()}
    assert exact, "no high-cosine pairs at this threshold"
    assert lsh <= exact          # LSH never invents pairs
    assert len(lsh) >= len(exact) // 4  # and recalls a useful fraction


def test_embedding_near_dup_multiprobe_exact_on_planted(embeddings):
    """At a genuine near-dup threshold the bucketed multi-probe path
    must equal exhaustive all-pairs: plant jittered copies
    (v + 0.15·reverse(v), cosine ≈0.99) and compare the two paths."""
    from mc2skos_spark.functions.dedup import embedding_near_dup_pairs
    base = embeddings.select("vec_id", F.col("embedding")
                             .cast("array<double>").alias("embedding"))
    planted = (base.filter(F.col("vec_id") < 50)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.zip_with("embedding", F.reverse("embedding"),
                                  lambda x, y: x + F.lit(0.15) * y)
                        .alias("embedding")))
    aug = base.unionByName(planted)
    exact = {tuple(r) for r in
             embedding_near_dup_pairs(aug, 0.9).collect()}
    bucketed_df = embedding_near_dup_pairs(aug, 0.9, num_planes=8,
                                           dim=64, multiprobe=3)
    bucketed = {tuple(r) for r in bucketed_df.collect()}
    assert len(exact) == 50          # exactly the planted pairs qualify
    assert bucketed == exact
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_embedding_near_dup_requires_dim_on_bucketed_path(embeddings):
    from mc2skos_spark.functions.dedup import embedding_near_dup_pairs
    with pytest.raises(ValueError):
        embedding_near_dup_pairs(embeddings, 0.9, num_planes=8)


def test_simhash_banded_equals_brute_force(spark, documents):
    """Pigeonhole banding must reproduce the all-pairs popcount scan
    exactly, without a cartesian product in the executed plan."""
    sigs = simhash(documents.limit(150), "doc_id", "text").cache()
    brute = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             (sigs.alias("a").crossJoin(sigs.alias("b"))
              .filter(F.col("a.id") < F.col("b.id"))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      F.bit_count(F.col("a.simhash")
                                  .bitwiseXOR(F.col("b.simhash")))
                       .alias("hamming"))
              .filter(F.col("hamming") <= 12)).collect()}
    banded_df = simhash_near_pairs(sigs, max_hamming=12)
    banded = {(r["id_a"], r["id_b"], r["hamming"])
              for r in banded_df.collect()}
    assert banded == brute
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_near_dup_keepers_chain_cluster(spark):
    """Similarity is not transitive: a pair chain (1,2),(2,3) must fold
    into ONE cluster via connected components, keeper = min id;
    documents in no pair keep themselves."""
    from mc2skos_spark.functions.dedup import near_dup_keepers
    docs = spark.createDataFrame([(i, "t%d" % i) for i in range(1, 6)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    got = {r["id"]: r["keeper_id"]
           for r in near_dup_keepers(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_shingles_short_docs_produce_no_pairs(spark):
    """<n-token texts must yield NO shingles (a degenerate single-token
    shingle would make any two short docs jaccard-1.0 duplicates)."""
    df = spark.createDataFrame(
        [(1, "word"), (2, "other"), (3, ""), (4, "a b c d e")],
        ["id", "txt"])
    pairs = ngram_jaccard_pairs(df, "id", "txt", n=2, threshold=0.1,
                                max_shingle_freq=None).collect()
    assert pairs == []
    sigs = minhash_signatures(df, "id", "txt", n=2, num_hashes=8)
    assert {r["id"] for r in sigs.collect()} == {4}


def test_fingerprint_order_sensitivity(spark):
    """XOR fingerprint is bag-of-tokens (permutation-invariant); the
    rolling variant must distinguish token order."""
    from mc2skos_spark.functions.textstats import (fingerprint,
                                                   rolling_fingerprint)
    df = spark.createDataFrame([(1, "alpha beta gamma"),
                                (2, "gamma beta alpha")], ["id", "txt"])
    rows = df.select("id", fingerprint(F.col("txt")).alias("fp"),
                     rolling_fingerprint(F.col("txt")).alias("rfp")) \
             .collect()
    by_id = {r["id"]: (r["fp"], r["rfp"]) for r in rows}
    assert by_id[1][0] == by_id[2][0]     # XOR fold: same bag
    assert by_id[1][1] != by_id[2][1]     # rolling: order matters


def test_semantic_dedup_keepers(spark):
    """SemDeDup: within-cluster near-dups collapse to the min-id
    keeper; vectors with no near neighbor keep themselves."""
    from mc2skos_spark.functions.dedup import semantic_dedup_keepers
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),     # centroid of cluster A
            (1, [0.0, 1.0, 0.0, 0.0]),     # centroid of cluster B
            (2, [0.99, 0.1, 0.0, 0.0]),    # near-dup of 0 (cos ~.995)
            (3, [0.0, 0.99, 0.14, 0.0]),   # near-dup of 1 (cos ~.990)
            (5, [0.0, 0.0, 1.0, 0.0])]     # loner
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>")
    got = {r["id"]: r["keeper_id"]
           for r in semantic_dedup_keepers(
               emb, num_centroids=2, threshold=0.97,
               centroid_mod=1).collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1, 5: 5}


def test_within_centroid_pairs_dim_path_identical(spark):
    """Round-7 perf path: the unrolled + Cauchy–Schwarz-guarded dot
    (dim=...) must return exactly the HOF-fold rows — including ragged
    vectors (width != dim, per-row HOF fallback) and pairs straddling
    the threshold boundary."""
    import math
    import random
    from mc2skos_spark.functions.dedup import within_centroid_pairs
    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [x / n for x in v], i % 3))
    # near-duplicate pairs right at the threshold region
    for i, eps in ((100, 1e-9), (101, 0.05), (102, 0.245)):
        base = rows[0][1]
        v = [x + eps for x in base]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v], 0))
    # ragged vectors (width 5 != dim 8) in the same centroid
    rows.append((200, [1.0, 0.0, 0.0, 0.0, 0.0], 1))
    rows.append((201, [1.0, 0.0, 0.0, 0.0, 0.0], 1))
    assigned = spark.createDataFrame(
        rows, "vec_id bigint, _vn array<double>, _c bigint")
    hof = {(r["id_a"], r["id_b"]): (r["centroid"], r["cosine"])
           for r in within_centroid_pairs(assigned, 0.97).collect()}
    fast = {(r["id_a"], r["id_b"]): (r["centroid"], r["cosine"])
            for r in within_centroid_pairs(assigned, 0.97,
                                           dim=8).collect()}
    assert hof == fast
    assert (200, 201) in fast          # ragged pair still scored


def test_repetition_signals(spark):
    """Gopher-style intra-doc repetition: dup-token fraction and
    top-bigram fraction, both floor-truncated to 4 decimals and 0.0 on
    degenerate (empty / single-token) docs."""
    from mc2skos_spark.functions.textstats import (dup_token_fraction,
                                                   top_ngram_fraction)
    df = spark.createDataFrame(
        [(1, "a a a a"),          # 1 distinct of 4 → 0.75; bigrams all "a a" → 1.0
         (2, "a b c d"),          # all distinct → 0.0; 3 distinct bigrams → 1/3
         (3, ""),                 # no tokens → both 0.0
         (4, "word"),             # single token: no bigrams → 0.0
         (5, "x y x y x")],       # 2 of 5 distinct → 0.6; "x y" 2 of 4 → 0.5
        ["id", "txt"])
    rows = df.select(
        "id", dup_token_fraction(F.col("txt")).alias("dup"),
        top_ngram_fraction(F.col("txt"), 2).alias("top2")).collect()
    got = {r["id"]: (r["dup"], r["top2"]) for r in rows}
    assert got[1] == (0.75, 1.0)
    assert got[2] == (0.0, 0.3333)
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)
    assert got[5] == (0.6, 0.5)


def test_benchmark_contamination(spark):
    """A verbatim copy of a benchmark doc is flagged; disjoint docs
    report 0 shared shingles and keep their row (left join)."""
    from mc2skos_spark.functions.contamination import \
        benchmark_contamination
    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4 q5 q6 q7")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "q1 q2 q3 q4 q5 q6 q7"),     # copy: 3 distinct 5-grams shared
         (2, "z1 z2 z3 z4 z5 z6 z7"),     # disjoint
         (3, "short text")],              # <5 tokens: no shingles at all
        ["doc_id", "text"])
    rows = benchmark_contamination(train, bench, n=5, min_hits=2).collect()
    got = {r["doc_id"]: (r["bench_shingles"], r["contaminated"])
           for r in rows}
    assert got == {1: (3, True), 2: (0, False), 3: (0, False)}


def test_pii_profile(spark):
    """Counts per PII type and full redaction; clean text untouched."""
    from mc2skos_spark.functions.pii import pii_profile
    df = spark.createDataFrame(
        [(1, "mail a.b@x.co or 10.1.2.3 or 555-123-4567 twice a.b@x.co"),
         (2, "clean text only")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in pii_profile(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) \
        == (2, 1, 1)
    assert rows[1]["scrubbed"] == \
        "mail [EMAIL] or [IP] or [PHONE] twice [EMAIL]"
    assert rows[2]["scrubbed"] == "clean text only"
    assert rows[2]["n_email"] == 0


def test_stratified_sample_deterministic(spark):
    """Selection is a pure function of the id: identical across
    repartitions; per-stratum rates honored (0.0 drops the stratum)."""
    from mc2skos_spark.functions.sampling import stratified_sample
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"))
    s1 = stratified_sample(df, "lang", {"en": 0.5}, default_rate=0.0)
    ids1 = {r["doc_id"] for r in s1.collect()}
    s2 = stratified_sample(df.repartition(7), "lang", {"en": 0.5},
                           default_rate=0.0)
    assert ids1 == {r["doc_id"] for r in s2.collect()}
    assert all(i % 2 == 0 for i in ids1)        # default 0.0 drops 'xx'
    assert 0.35 < len(ids1) / 500 < 0.65        # ~half the en stratum


def _bpe_reference(texts, n_merges, min_pair_count=2):
    """Pure-Python BPE trainer (word-frequency table, greedy leftmost
    merge, tie-break count desc then (a, b) asc) — the independent
    oracle for train_bpe_merges."""
    import re
    from collections import Counter
    from mc2skos_spark.functions.textstats import BPE_ISH_PATTERN
    words = Counter(w for t in texts for w in re.findall(BPE_ISH_PATTERN, t))
    syms = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, cnt in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((a, b, c))
        for w, s in syms.items():
            out = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    return merges


def test_bpe_trainer_matches_python_reference(spark):
    """Multi-round distributed BPE training equals the pure-Python
    reference on a corpus with repeats, single-char words, punctuation
    runs and an a==b merge ('aaaa' → greedy leftmost [aa, aa])."""
    from mc2skos_spark.functions.bpe import train_bpe_merges
    texts = ["the cat sat on the mat", "the theme of the thesis",
             "aaaa aaaa baaa!", "low lower lowest low", "a b c, c b a",
             "123 1234 12", "don't stop, don't!"] * 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    got = train_bpe_merges(df, n_merges=8)
    exp = _bpe_reference(texts, n_merges=8)
    assert got == exp
    assert len(got) == 8                      # corpus supports 8 rounds
    # and the learned merges include multi-char continuations
    assert any(len(a) > 1 or len(b) > 1 for a, b, _ in got)


def test_bpe_pair_stats_total_order(spark):
    """Round-1 stats: counts are word-frequency weighted and the top-k
    cutoff follows the documented (count desc, a, b) total order."""
    from mc2skos_spark.functions.bpe import bpe_pair_stats
    df = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd"), (3, "cd x")],
        ["doc_id", "text"])
    rows = [(r["a"], r["b"], r["pair_count"])
            for r in bpe_pair_stats(df, top_k=2).collect()]
    assert rows == [("a", "b", 4), ("c", "d", 2)]


def test_chunk_documents_windows(spark):
    """Window math: short doc → one chunk; exact-boundary doc → one
    chunk; long doc → overlapping windows whose last window reaches
    the final token; empty doc → one empty chunk."""
    import pytest
    from mc2skos_spark.functions.packing import chunk_documents
    words = lambda n: " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, words(3)), (2, words(4)), (3, words(10)), (4, "")],
        ["doc_id", "text"])
    out = chunk_documents(df, max_len=4, stride=3)
    got = {(r["doc_id"], r["chunk_idx"]):
           (r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
           for r in out.collect()}
    assert got[(1, 0)] == (0, 3, "w0 w1 w2")
    assert got[(2, 0)] == (0, 4, "w0 w1 w2 w3")       # boundary: 1 chunk
    assert (2, 1) not in got
    # 10 tokens, max_len 4, stride 3 → 1 + ceil(6/3) = 3 chunks
    assert got[(3, 0)] == (0, 4, "w0 w1 w2 w3")
    assert got[(3, 1)] == (3, 4, "w3 w4 w5 w6")       # overlap of 1
    assert got[(3, 2)] == (6, 4, "w6 w7 w8 w9")       # reaches token 9
    assert (3, 3) not in got
    assert got[(4, 0)] == (0, 0, "")
    with pytest.raises(ValueError):
        chunk_documents(df, max_len=4, stride=5)


def test_mixture_weighted_sample(spark):
    """alpha=0.5 mixture: rates follow sqrt-scaled token shares under
    the budget (Python-recomputed per stratum), the scarce stratum is
    upsampled relative to its raw share, and selection is partition-
    layout-independent."""
    import math
    from mc2skos_spark.functions.sampling import (hash_fraction,
                                                  mixture_weighted_sample)
    # 'en' dominates tokens 10:1; alpha=0.5 narrows that to sqrt(10):1
    df = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 12 < 10, "en").otherwise("sw").alias("lang"),
        F.lit(20).alias("n_tokens"))
    out = mixture_weighted_sample(df, "lang", budget_frac=0.5)
    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    # layout independence
    ids2 = {r["doc_id"] for r in
            mixture_weighted_sample(df.repartition(7), "lang",
                                    budget_frac=0.5).collect()}
    assert ids == ids2
    # expected rates, recomputed independently (integer sqrt weights)
    st = {"en": 1000 * 20, "sw": 200 * 20}
    w = {k: math.isqrt(v) for k, v in st.items()}
    tot, wsum = sum(st.values()), sum(w.values())
    rate = {k: min(1.0, (0.5 * tot * w[k]) / (wsum * st[k])) for k in st}
    assert rate["sw"] > rate["en"]          # scarce stratum upsampled
    # exact membership: the keep decision is hash_fraction < rate
    frac = {r["doc_id"]: r["f"] for r in
            df.select("doc_id",
                      hash_fraction(F.col("doc_id")).alias("f")).collect()}
    exp = {i for i in range(1200)
           if frac[i] < rate["en" if i % 12 < 10 else "sw"]}
    assert ids == exp
    # sampled token mixture moves toward the sqrt-share target
    kept_en = sum(1 for i in ids if i % 12 < 10)
    kept_sw = len(ids) - kept_en
    raw_ratio = st["en"] / st["sw"]                      # 5.0
    target_ratio = w["en"] / w["sw"]                     # ~2.24
    got_ratio = kept_en / max(kept_sw, 1)
    assert abs(got_ratio - target_ratio) < abs(got_ratio - raw_ratio)


def test_domain_doc_counts(spark):
    """Distinct-doc and total-URL counts per extracted host domain;
    URL-free docs contribute nothing."""
    from mc2skos_spark.functions.urls import domain_doc_counts
    df = spark.createDataFrame(
        [(1, "go https://a.example.com/x and https://a.example.com/y"),
         (2, "see http://b.example.org/z"),
         (3, "no links here")], ["doc_id", "text"])
    got = {r["domain"]: (r["n_docs"], r["n_urls"])
           for r in domain_doc_counts(df).collect()}
    assert got == {"a.example.com": (1, 2), "b.example.org": (1, 1)}


def test_pack_sequences_matches_serial_prefix_sum(spark):
    """Distributed packing equals the serial exclusive prefix sum and
    is invariant to the range-partition count (the session's
    ``spark.sql.shuffle.partitions``)."""
    from mc2skos_spark.functions.packing import pack_sequences
    df = spark.createDataFrame([(i, (i % 5) + 1) for i in range(50)],
                               "doc_id bigint, n_tokens int")
    acc, exp = 0, {}
    for i in range(50):
        exp[i] = (acc, acc // 7)
        acc += (i % 5) + 1
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 5):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got = {r["doc_id"]: (r["start_offset"], r["seq_id"])
                   for r in pack_sequences(df, capacity=7).collect()}
            assert got == exp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_bpe_ish_token_count(spark):
    from mc2skos_spark.functions.textstats import bpe_ish_token_count
    df = spark.createDataFrame([(1, "Hello, world! v2.0 (beta)")], ["id", "t"])
    # Hello , world ! v 2 . 0 ( beta ) → 11
    assert df.select(bpe_ish_token_count(F.col("t")).alias("n")) \
             .first()["n"] == 11


def test_multimodal_plumbing(spark):
    media = synth_media(spark, n=30)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == 8
        assert len(r["content_digest"]) == 64
        assert r["payload_bytes"] >= 64
    # determinism: same payload → same feature
    again = {r["media_id"]: r["feature"]
             for r in extract_media_features(media).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_bm25_topk_hand_computed(spark):
    # 3-doc corpus small enough to hand-check: "apple" appears in one
    # doc (high idf), "pear" in all three (low idf)
    import math
    from mc2skos_spark.functions.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(1, "apple pear plum"),
         (2, "pear plum plum cherry"),
         (3, "pear cherry")],
        "doc_id long, text string")
    res = {r["doc_id"]: r["bm25"]
           for r in bm25_topk(docs, ["apple", "pear"], k=3).collect()}
    n, avgdl = 3.0, 3.0
    k1, b = 1.2, 0.75

    def score(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        return math.floor(s * 10000)

    exp1 = (score(1, 1, 3) + score(1, 3, 3)) / 10000.0
    assert res[1] == pytest.approx(exp1, abs=1e-9)
    assert res[1] > res[2] > 0 and res[3] > 0


def test_bm25_ranks_matching_docs_only(documents):
    from mc2skos_spark.functions.retrieval import bm25_topk
    top = bm25_topk(documents, ["spark"], k=5).collect()
    assert 0 < len(top) <= 5
    # every returned doc actually contains the term
    ids = [r["doc_id"] for r in top]
    hits = (documents.filter(F.col("doc_id").isin(ids))
            .filter(F.lower(F.col("text")).contains("spark")).count())
    assert hits == len(ids)
    # scores descend
    scores = [r["bm25"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_bm25_rejects_bad_query(documents):
    from mc2skos_spark.functions.retrieval import bm25_topk
    with pytest.raises(ValueError):
        bm25_topk(documents, [])
    with pytest.raises(ValueError):
        bm25_topk(documents, ["a", "a"])


def test_repeated_substring_spans_planted(spark):
    # plant one shared 10-token run inside otherwise-unique texts:
    # 10 tokens → three 8-token duplicate windows → ONE merged span
    # of length 10 per doc, at different offsets
    from mc2skos_spark.functions.dedup import repeated_substring_spans
    run = " ".join(f"dup{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, "alpha beta " + run + " gamma"),
         (2, run + " delta epsilon zeta"),
         (3, "unrelated words only here nothing shared at all")],
        "doc_id long, text string")
    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
             for r in repeated_substring_spans(docs, window=8).collect()}
    assert spans == {1: (2, 12, 3), 2: (0, 10, 3)}


def test_repeated_substring_spans_merges_islands(spark):
    # two disjoint shared runs in one doc → two separate spans
    from mc2skos_spark.functions.dedup import repeated_substring_spans
    r1 = " ".join(f"a{i}" for i in range(8))
    r2 = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, r1 + " x y z " + r2),
         (2, r1 + " q"), (3, r2 + " w")],
        "doc_id long, text string")
    rows = (repeated_substring_spans(docs, window=8)
            .filter(F.col("doc_id") == 1).orderBy("span_start").collect())
    assert [(r["span_start"], r["span_end"]) for r in rows] == \
        [(0, 8), (11, 19)]


def test_repeated_substring_spans_short_docs(spark):
    # docs shorter than the window produce no windows and no error
    from mc2skos_spark.functions.dedup import repeated_substring_spans
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short"), (3, "")],
        "doc_id long, text string")
    assert repeated_substring_spans(docs, window=8).count() == 0


def test_bpe_encode_word_vectors():
    from mc2skos_spark.functions.bpe import encode_word
    m = [("e", "r"), ("in", "g"), ("i", "n")]
    # merges apply IN ORDER: when (in,g) runs no 'in' token exists
    # yet, so 'ing' never forms — the later (i,n) still applies
    assert encode_word("ering", m) == ["er", "in", "g"]
    assert encode_word("ing", m) == ["in", "g"]
    assert encode_word("ing", [("i", "n"), ("in", "g")]) == ["ing"]
    assert encode_word("aaa", [("a", "a")]) == ["aa", "a"]
    assert encode_word("aaaa", [("a", "a")]) == ["aa", "aa"]
    assert encode_word("", m) == []
    assert encode_word("x", m) == ["x"]


def test_bpe_encode_matches_trainer_final_state(spark):
    """Encoding each distinct word with the trained merge list must
    reproduce the trainer's final symbolization (the reference
    trainer's syms table)."""
    import re
    from mc2skos_spark.functions.bpe import encode_word
    from mc2skos_spark.functions.textstats import BPE_ISH_PATTERN
    texts = ["the thin thing sings", "the thing sings the song",
             "a singer sings a song", "thin strings ring"]
    merges = [(a, b) for a, b, _ in _bpe_reference(texts, 6)]
    # replay the reference trainer to capture its final syms state
    words = {w for t in texts for w in re.findall(BPE_ISH_PATTERN, t)}
    syms = {w: list(w) for w in words}
    for a, b in merges:
        for w, s in syms.items():
            out = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    for w in words:
        assert encode_word(w, merges) == syms[w], w
        assert "".join(encode_word(w, merges)) == w


def test_bpe_encode_token_counts_spark(spark):
    import re
    from collections import Counter
    from mc2skos_spark.functions.bpe import (encode_token_counts,
                                             encode_word)
    from mc2skos_spark.functions.textstats import BPE_ISH_PATTERN
    texts = ["the thin thing", "the thing sings", "sing the song"]
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    exp = Counter()
    for t in texts:
        for w in re.findall(BPE_ISH_PATTERN, t):
            exp.update(encode_word(w, merges))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["token"]: r["n"]
           for r in encode_token_counts(df, merges).collect()}
    assert got == dict(exp)


def _lm_nll_reference(texts, lm_counts=None):
    """Serial Python reference of lm_nll_scores: add-1 unigram NLL with
    1e-4-quantized per-token logps summed as ints."""
    import math
    from collections import Counter
    docs = {i: Counter((t or "").lower().split()) for i, t in enumerate(texts)}
    if lm_counts is None:
        lm_counts = Counter()
        for c in docs.values():
            lm_counts.update(c)
    total = sum(lm_counts.values())
    vocab = len(lm_counts)
    def lp(tok):
        cnt = lm_counts.get(tok, 0)
        return math.floor(math.log((cnt + 1) / (total + vocab)) * 10000)
    out = {}
    for i, c in docs.items():
        if not c:
            continue
        n = sum(c.values())
        q = -sum(tf * lp(tok) for tok, tf in c.items())
        out[i] = (n, q, math.floor(q / n) / 10000.0)
    return out


def test_lm_nll_self_trained(spark):
    from mc2skos_spark.functions.lm import lm_nll_scores
    texts = ["the cat sat on the mat", "the dog", "zz yy xx zz",
             "", "the the the cat"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["nll_q"], r["avg_nll"])
           for r in lm_nll_scores(df).collect()}
    exp = _lm_nll_reference(texts)
    assert got == exp           # empty doc 3 absent from both
    assert 3 not in got
    # repeated common tokens score lower per-token than rare ones
    assert got[4][2] < got[2][2]


def test_lm_nll_external_lm_oov(spark):
    from mc2skos_spark.functions.lm import lm_nll_scores, unigram_lm
    ref_texts = ["the cat sat", "the cat ran", "a dog sat"]
    ref = spark.createDataFrame(
        list(enumerate(ref_texts)), "doc_id long, text string")
    lm = unigram_lm(ref)
    texts = ["the cat", "quantum flux capacitor"]   # all-OOV doc 1
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["nll_q"], r["avg_nll"])
           for r in lm_nll_scores(df, lm=lm).collect()}
    from collections import Counter
    lm_counts = Counter()
    for t in ref_texts:
        lm_counts.update(t.lower().split())
    exp = _lm_nll_reference(texts, lm_counts)
    assert got == exp
    # OOV-only doc must score strictly worse per-token
    assert got[1][2] > got[0][2]


def test_dsir_logweights_exact(spark):
    import hashlib
    import math
    from collections import Counter
    from mc2skos_spark.functions.dsir import dsir_logweights

    rows = [(0, "en", "the cat sat on the mat"),
            (1, "en", "the dog ran to the park"),
            (2, "zh", "zz qq zz ww qq"),
            (3, "zh", "ww zz qq"),
            (4, "en", ""),
            (5, "de", "der hund lief zum park")]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:2], 16) % 256

    def grams(t):
        tk = [w for w in t.lower().split() if w]
        return tk + [" ".join(tk[i:i + 2]) for i in range(len(tk) - 1)]

    docb = {i: Counter(bucket(g) for g in grams(t))
            for i, _, t in rows if grams(t)}
    raw = Counter()
    tgt = Counter()
    for i, lang, t in rows:
        for b, c in docb.get(i, {}).items():
            raw[b] += c
            if lang == "en":
                tgt[b] += c
    rtot, ttot = sum(raw.values()), sum(tgt.values())

    def lp(c, tot):
        return math.floor(math.log((c + 1) / (tot + 256)) * 10000)

    exp = {}
    for i, _, t in rows:
        if i not in docb:
            continue
        n = sum(docb[i].values())
        w = sum(c * (lp(tgt[b], ttot) - lp(raw[b], rtot))
                for b, c in docb[i].items())
        exp[i] = (n, w)

    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: (r["n_grams"], r["logw_q"])
           for r in dsir_logweights(df, F.col("lang") == "en").collect()}
    assert got == exp
    assert 4 not in got                       # empty doc: no score row
    # target-slice docs weight higher than the disjoint-vocab slice
    assert min(got[0][1], got[1][1]) > max(got[2][1], got[3][1])


def test_word_grams12_matches_two_call_form(spark):
    """Round-7 perf rewrite: word_grams12 (one tokenize) must produce
    byte-identical gram arrays to concat(word_ngrams(c,1),
    word_ngrams(c,2)) — hashed-feature consumers (DSIR, classifier)
    depend on the exact strings."""
    from mc2skos_spark.functions.textstats import (word_grams12,
                                                   word_ngrams)
    rows = [(0, "The cat sat on  the mat"),
            (1, "one"),
            (2, ""),
            (3, None),
            (4, "  spaced   out\ttokens \n here "),
            (5, "UPPER lower MiXeD 123 #punct!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = F.col("text")
    got = df.select(
        "doc_id",
        word_grams12(col).alias("a"),
        F.concat(word_ngrams(col, 1), word_ngrams(col, 2)).alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"], (r["doc_id"], r["a"], r["b"])
    import math
    from collections import Counter
    from mc2skos_spark.functions.lm import bigram_nll_scores
    texts = ["the cat sat on the mat", "the cat ran to the mat",
             "zz yy zz yy zz", "a", ""]
    toks = [t.lower().split() for t in texts]
    c1 = Counter(w for tk in toks for w in tk)
    c2 = Counter((tk[i], tk[i + 1]) for tk in toks
                 for i in range(len(tk) - 1))
    total, vocab = sum(c1.values()), len(c1)

    def lp(w1, w2):
        p = (0.5 * ((c2[(w1, w2)] + 1) / (c1[w1] + vocab))
             + 0.5 * ((c1[w2] + 1) / (total + vocab)))
        return math.floor(math.log(p) * 10000)

    exp = {}
    for i, tk in enumerate(toks):
        if len(tk) < 2:
            continue
        trs = Counter((tk[j], tk[j + 1]) for j in range(len(tk) - 1))
        n = sum(trs.values())
        q = -sum(tf * lp(w1, w2) for (w1, w2), tf in trs.items())
        exp[i] = (n, q, math.floor(q / n) / 10000.0)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_transitions"], r["nll2_q"], r["avg_nll2"])
           for r in bigram_nll_scores(df).collect()}
    assert got == exp
    assert 3 not in got and 4 not in got   # <2 tokens: no score row
    # note: doc 2's repeated zz<->yy transitions are *predictable*
    # under the conditional model, so its NLL is legitimately LOW —
    # exactly the conditional-vs-unigram distinction this model adds


def test_centroid_assignment_plan_flat_in_k(spark):
    """Scale property for SemDeDup/IVF assignment: the plan must not
    grow with K.  The old literal-expression form embedded K×dim
    doubles in one projection (plan build died at the 50k-centroid
    scale the SemDeDup docstring prescribes); the broadcast-matrix
    mapInPandas form keeps the plan O(1) in K — proven here by
    building K=16 and K=1024 assignments over the same input and
    asserting the analyzed plans are the same size, then actually
    executing the K=1024 one."""
    from mc2skos_spark.functions.similarity import assign_nearest_centroid

    def lcg_vec(seed, dim=8):
        state, out = seed, []
        for _ in range(dim):
            state = (state * 6364136223846793005
                     + 1442695040888963407) % (1 << 64)
            out.append(((state >> 33) / float(1 << 31)) - 1.0)
        return out

    df = spark.createDataFrame(
        [(i, lcg_vec(i + 1)) for i in range(200)],
        "id long, vec array<double>")
    cents_small = [(c, lcg_vec(10_000 + c)) for c in range(16)]
    cents_big = [(c, lcg_vec(10_000 + c)) for c in range(1024)]

    plan_small = (assign_nearest_centroid(df, cents_small, "vec", "_c")
                  ._jdf.queryExecution().analyzed().toString())
    big_df = assign_nearest_centroid(df, cents_big, "vec", "_c")
    plan_big = big_df._jdf.queryExecution().analyzed().toString()
    assert len(plan_big) == len(plan_small)   # plan size flat in K
    assert "array(" not in plan_big           # no literal centroid vectors

    got = {r["id"]: r["_c"] for r in big_df.collect()}

    # numpy reference: unit-normalize both sides, argmax, ties → larger
    # cid (centroid order descending + first-max argmax)
    import numpy as np
    v = np.vstack([lcg_vec(i + 1) for i in range(200)])
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    order = sorted(range(1024), reverse=True)
    c = np.vstack([lcg_vec(10_000 + k) for k in order])
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    exp = {i: order[j] for i, j in enumerate((v @ c.T).argmax(axis=1))}
    assert got == exp


def test_centroid_assignment_tie_and_zero_semantics(spark):
    """Parity pins for the old expression-form rules: exact score ties
    go to the LARGER cid, and a zero vector (cosine 0.0 everywhere)
    also lands on the largest cid."""
    from mc2skos_spark.functions.similarity import assign_nearest_centroid

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 2.0])],
        "id long, vec array<double>")
    # cids 5 and 9 are the SAME direction as id 0; 9 must win the tie
    cents = [(5, [2.0, 0.0]), (9, [4.0, 0.0]), (3, [0.0, 1.0])]
    got = {r["id"]: r["_c"]
           for r in assign_nearest_centroid(df, cents, "vec", "_c")
           .collect()}
    assert got[0] == 9   # tie between 5 and 9 → larger cid
    assert got[1] == 9   # zero vector: all scores 0.0 → largest cid
    assert got[2] == 3


def test_mixture_sample_zero_token_stratum_dropped(spark):
    """A stratum whose token sum is 0 makes the rate denominator 0 —
    under ANSI mode the old plain division raised DIVIDE_BY_ZERO and
    killed the job (reproduced by the round-4 advisor).  The
    try_divide + when() form drops the stratum explicitly (NULL rate
    never passes the ``<`` keep test), matching the DuckDB oracle's
    0/0→NaN behavior."""
    from mc2skos_spark.functions.sampling import mixture_weighted_sample
    df = spark.createDataFrame(
        [(i, "en", 20) for i in range(40)]
        + [(100 + i, "empty", 0) for i in range(5)],
        "doc_id long, lang string, n_tokens long")
    rows = mixture_weighted_sample(df, "lang", budget_frac=0.5).collect()
    assert rows                                     # job no longer crashes
    assert all(r["lang"] == "en" for r in rows)     # empty stratum dropped


def test_hash_fraction_rejects_negative_ids(spark):
    """Negative ids would silently diverge from the SQL oracle (pmod vs
    sign-preserving %); the guard must fail LOUDLY instead."""
    from mc2skos_spark.functions.sampling import stratified_sample
    df = spark.createDataFrame([(-1, "en"), (2, "en")],
                               "doc_id long, lang string")
    with pytest.raises(Exception, match="non-negative"):
        stratified_sample(df, "lang", {"en": 0.5}).collect()


def test_bpe_trainer_batched_equals_serial(spark):
    """Batched rounds (the production shape — rounds are job-count
    bound) must produce the IDENTICAL merge list as one-at-a-time
    training on an overlap-heavy corpus: shared-symbol pairs, a==b
    runs, cascade merges and count ties all present."""
    from mc2skos_spark.functions.bpe import train_bpe_merges
    texts = ["the cat sat on the mat", "the theme of the thesis",
             "aaaa aaaa baaa!", "low lower lowest low", "a b c, c b a",
             "zab zab zab cd cd cd", "don't stop, don't!"] * 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    serial = train_bpe_merges(df, n_merges=10, batch_size=1)
    batched = train_bpe_merges(df, n_merges=10, batch_size=8)
    assert batched == serial == _bpe_reference(texts, n_merges=10)


def test_bpe_trainer_batched_randomized_parity(spark):
    """Seeded random corpora over a 3-letter alphabet — maximal pair
    overlap and constant count ties, the adversarial regime for the
    batch-safety rules — must still match the serial reference
    exactly."""
    import random
    from mc2skos_spark.functions.bpe import train_bpe_merges
    rng = random.Random(42)
    for trial in range(4):
        texts = [" ".join("".join(rng.choice("abc")
                                  for _ in range(rng.randint(1, 6)))
                          for _ in range(30))
                 for _ in range(6)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
        got = train_bpe_merges(df, n_merges=12, batch_size=6)
        exp = _bpe_reference(texts, n_merges=12)
        assert got == exp, f"trial {trial} diverged"


def test_bpe_trainer_batching_cuts_rounds(spark, monkeypatch):
    """On a disjoint-heavy vocabulary (the realistic regime) batching
    must cut the number of per-round Spark aggregates ~batch_size-fold
    while producing the same merges."""
    import mc2skos_spark.functions.bpe as bpe_mod
    # 40 two-char words over 80 distinct codepoints: every pair merge
    # is symbol-disjoint; strictly decreasing counts avoid tie stops
    words = ["".join(chr(0x100 + 2 * i) + chr(0x101 + 2 * i))
             for i in range(40)]
    texts = [" ".join([w] * (50 - i)) for i, w in enumerate(words)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    calls = {"n": 0}
    real = bpe_mod.pair_counts

    def counting(words_df):
        calls["n"] += 1
        return real(words_df)

    monkeypatch.setattr(bpe_mod, "pair_counts", counting)
    batched = bpe_mod.train_bpe_merges(df, n_merges=32, batch_size=16)
    batched_rounds = calls["n"]
    calls["n"] = 0
    serial = bpe_mod.train_bpe_merges(df, n_merges=32, batch_size=1)
    serial_rounds = calls["n"]
    assert batched == serial and len(batched) == 32
    assert batched_rounds <= 3          # 32 merges in ≤3 rounds
    assert serial_rounds == 32


def test_select_merge_batch_safety_rules():
    """Driver-side chooser vectors (no JVM): each rule stops exactly
    the divergence it documents."""
    from mc2skos_spark.functions.bpe import _select_merge_batch
    # rule 1: prefix stops at the first symbol-sharing candidate, even
    # when a disjoint pair follows it in rank
    cands = [("a", "b", 10), ("z", "a", 10), ("c", "d", 6)]
    assert _select_merge_batch(cands, set(), None, 8) == [("a", "b", 10)]
    # rule 4: merging (a,a) creates ('aa','a')/('a','aa') pairs that
    # tie (c,d) and precede it lexically — (c,d) must NOT batch
    cands = [("a", "a", 20), ("c", "d", 10)]
    assert _select_merge_batch(cands, set(), None, 8) == [("a", "a", 20)]
    # ...but when the created pair loses the lex tie-break, batching is
    # safe: ('z','ab') > ('c','d'), serial would pick (c,d) anyway
    cands = [("a", "b", 10), ("c", "d", 10), ("z", "a", 10)]
    assert _select_merge_batch(cands, set(), None, 8) == \
        [("a", "b", 10), ("c", "d", 10)]
    # rule 2: a concat that is already a vocabulary token goes alone
    cands = [("a", "b", 10), ("c", "d", 10)]
    assert _select_merge_batch(cands, {"ab"}, None, 8) == \
        [("a", "b", 10)]
    # rule 3: ties with the truncation boundary are rejected
    cands = [("a", "b", 10), ("c", "d", 10)]
    assert _select_merge_batch(cands, set(), 10, 8) == []
    assert _select_merge_batch(cands, set(), 9, 8) == \
        [("a", "b", 10), ("c", "d", 10)]
    # max_n caps the batch
    assert _select_merge_batch(cands, set(), None, 1) == [("a", "b", 10)]


def test_trigram_nll_self_trained_exact(spark):
    """Exact serial reference for the interpolated trigram LM —
    0.5·trigram + 0.25·bigram-continuation + 0.25·unigram, quantized
    logps summed as ints; docs with <3 tokens get no row."""
    import math
    from collections import Counter
    from mc2skos_spark.functions.lm import trigram_nll_scores
    texts = ["the cat sat on the mat", "the cat ran to the mat",
             "zz yy zz yy zz", "a b", "a", ""]
    toks = [t.lower().split() for t in texts]
    c1 = Counter(w for tk in toks for w in tk)
    c2 = Counter((tk[i], tk[i + 1]) for tk in toks
                 for i in range(len(tk) - 1))
    c3 = Counter((tk[i], tk[i + 1], tk[i + 2]) for tk in toks
                 for i in range(len(tk) - 2))
    total, vocab = sum(c1.values()), len(c1)

    def lp(w1, w2, w3):
        p = (0.5 * ((c3[(w1, w2, w3)] + 1) / (c2[(w1, w2)] + vocab))
             + 0.25 * ((c2[(w2, w3)] + 1) / (c1[w2] + vocab))
             + 0.25 * ((c1[w3] + 1) / (total + vocab)))
        return math.floor(math.log(p) * 10000)

    exp = {}
    for i, tk in enumerate(toks):
        if len(tk) < 3:
            continue
        trs = Counter((tk[j], tk[j + 1], tk[j + 2])
                      for j in range(len(tk) - 2))
        n = sum(trs.values())
        q = -sum(tf * lp(*w) for w, tf in trs.items())
        exp[i] = (n, q, math.floor(q / n) / 10000.0)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_transitions3"], r["nll3_q"], r["avg_nll3"])
           for r in trigram_nll_scores(df).collect()}
    assert got == exp
    assert {3, 4, 5}.isdisjoint(got)       # <3 tokens: no score row


def test_ngram_nll_order5_self_trained_exact(spark):
    """Exact serial reference for the parameterized order-n builder at
    CCNet's actual order (5): default weights halve per order
    (0.5/0.25/0.125/0.0625 + 0.0625 unigram remainder — all exactly-
    representable doubles), quantized logps summed as ints; docs with
    <5 tokens get no row."""
    import math
    from collections import Counter
    from mc2skos_spark.functions.lm import ngram_nll_scores
    texts = ["the cat sat on the mat and the cat ran",
             "the cat sat on the rug and then slept",
             "zz yy zz yy zz yy zz", "a b c d", "one", ""]
    toks = [t.lower().split() for t in texts]
    cnt = {k: Counter(tuple(tk[i:i + k]) for tk in toks
                      for i in range(len(tk) - k + 1))
           for k in range(1, 6)}
    total, vocab = sum(cnt[1].values()), len(cnt[1])

    def lp(g):
        p = (0.5 * ((cnt[5][g] + 1) / (cnt[4][g[:4]] + vocab))
             + 0.25 * ((cnt[4][g[1:]] + 1) / (cnt[3][g[1:4]] + vocab))
             + 0.125 * ((cnt[3][g[2:]] + 1) / (cnt[2][g[2:4]] + vocab))
             + 0.0625 * ((cnt[2][g[3:]] + 1) / (cnt[1][g[3:4]] + vocab))
             + 0.0625 * ((cnt[1][g[4:]] + 1) / (total + vocab)))
        return math.floor(math.log(p) * 10000)

    exp = {}
    for i, tk in enumerate(toks):
        if len(tk) < 5:
            continue
        trs = Counter(tuple(tk[j:j + 5]) for j in range(len(tk) - 4))
        n = sum(trs.values())
        q = -sum(tf * lp(g) for g, tf in trs.items())
        exp[i] = (n, q, math.floor(q / n) / 10000.0)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_transitions"], r["nll_q"], r["avg_nll"])
           for r in ngram_nll_scores(df, 5).collect()}
    assert got == exp
    assert {3, 4, 5}.isdisjoint(got)       # <5 tokens: no score row


def test_scrub_substring_spans_unit(spark):
    """Library-surface unit for the span excision: cross-doc repeated
    windows are cut token-exactly (maximal merged spans), untouched
    docs stay byte-identical, non-text columns pass through."""
    from mc2skos_spark.functions.dedup import scrub_substring_spans
    boiler = "aa bb cc dd ee"
    df = spark.createDataFrame(
        [(1, "one1 two1 " + boiler + " tail1", "en"),
         (2, "one2  two2 " + boiler, "de"),      # double space: doc IS
         (3, "solo text with  no repeats", "fr")],  # ...scrubbed → norm
        "doc_id long, text string, lang string")
    got = {r["doc_id"]: (r["text"], r["lang"])
           for r in scrub_substring_spans(df, window=3,
                                          min_docs=2).collect()}
    assert got[1] == ("one1 two1 tail1", "en")
    # scrubbed docs get whitespace-normalized (documented)
    assert got[2] == ("one2 two2", "de")
    # untouched doc keeps its original bytes, double space included
    assert got[3] == ("solo text with  no repeats", "fr")


def test_multimodal_real_header_decode(spark):
    """REAL stdlib container decode: WAV params round-trip through an
    independent reader (Python's wave module reads our writer's bytes),
    PNG headers parse exactly, and garbage/truncated/mistagged payloads
    degrade to NULLs instead of crashing the stage."""
    import io
    import wave as wave_mod
    from mc2skos_spark.functions.multimodal import (
        decode_png_header, decode_wav_header, extract_media_features,
        make_png, make_wav)

    wav = make_wav(11000, 2, 137)
    # independent reader agrees with the writer...
    with wave_mod.open(io.BytesIO(wav)) as wf:
        assert (wf.getframerate(), wf.getnchannels(),
                wf.getnframes(), wf.getsampwidth()) == (11000, 2, 137, 2)
    # ...and our parser recovers the same fields
    assert decode_wav_header(wav) == {
        "sample_rate": 11000, "channels": 2, "bit_depth": 16,
        "n_frames": 137, "duration_ms": 137 * 1000 // 11000}
    assert decode_png_header(make_png(640, 480)) == {
        "width": 640, "height": 480, "bit_depth": 8}

    from mc2skos_spark.functions.multimodal import (decode_jpeg_header,
                                                    make_jpeg)
    assert decode_jpeg_header(make_jpeg(800, 600, components=3)) == {
        "width": 800, "height": 600, "bit_depth": 8, "components": 3}

    rows = [
        (0, "audio", bytearray(make_wav(8000, 1, 50)), None, None, None),
        (1, "image", bytearray(make_png(20, 10)), None, None, None),
        (2, "audio", bytearray(b"garbage not a container"), None, None,
         None),
        (3, "image", bytearray(make_png(20, 10)[:20]), None, None, None),
        (4, "video", None, None, None, None),
        # mistagged: magic wins over the kind column
        (5, "image", bytearray(make_wav(9000, 1, 90)), None, None, None),
        (6, "image", bytearray(make_jpeg(64, 48, components=1)),
         None, None, None),
    ]
    from mc2skos_spark.functions.multimodal import MEDIA_SCHEMA
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r.asDict()
           for r in extract_media_features(media).collect()}
    assert got[0]["decoded_sample_rate"] == 8000
    assert got[0]["decoded_duration_ms"] == 50 * 1000 // 8000
    assert (got[1]["decoded_width"], got[1]["decoded_height"]) == (20, 10)
    for bad in (2, 3, 4):
        assert all(got[bad]["decoded_%s" % f] is None
                   for f in ("width", "height", "bit_depth",
                             "sample_rate", "channels", "duration_ms"))
    assert got[5]["decoded_sample_rate"] == 9000   # magic beats tag
    assert (got[6]["decoded_width"], got[6]["decoded_height"],
            got[6]["decoded_channels"]) == (64, 48, 1)
    # the original plumbing columns are untouched
    assert got[2]["payload_bytes"] == len(b"garbage not a container")
    assert got[4]["content_digest"] is None


def test_jpeg_decoder_marker_walk_edges():
    """Pure-Python JPEG marker-walk edges (no JVM): fill bytes and
    restart markers are stepped over, DHT (a C-class NON-frame marker)
    is not mistaken for SOF, progressive SOF2 parses, and SOS-before-
    SOF / EOI-only / truncated / zero-dim streams yield None."""
    import struct
    from mc2skos_spark.functions.multimodal import (decode_jpeg_header,
                                                    make_jpeg)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    sof_body = struct.pack(">BHHB", 8, 48, 64, 3) + \
        b"".join(bytes([i + 1, 0x11, 0]) for i in range(3))
    # DHT (0xC4) before SOF must be walked over, not parsed as a frame
    dht_first = (b"\xff\xd8" + seg(0xC4, b"\x00" * 19)
                 + b"\xff\xff"                  # fill byte run
                 + b"\xff\xd0"                  # standalone RST0
                 + seg(0xC2, sof_body)          # progressive SOF2
                 + b"\xff\xd9")
    assert decode_jpeg_header(dht_first) == {
        "width": 64, "height": 48, "bit_depth": 8, "components": 3}
    # entropy data before any frame header: undecodable
    sos_first = b"\xff\xd8" + seg(0xDA, b"\x01\x01\x00") + b"\xff\xd9"
    assert decode_jpeg_header(sos_first) is None
    assert decode_jpeg_header(b"\xff\xd8\xff\xd9") is None  # EOI only
    assert decode_jpeg_header(make_jpeg(64, 48)[:8]) is None
    zero_dim = b"\xff\xd8" + seg(
        0xC0, struct.pack(">BHHB", 8, 0, 64, 1) + b"\x01\x11\x00")
    assert decode_jpeg_header(zero_dim) is None
    assert decode_jpeg_header(b"") is None
    assert decode_jpeg_header(b"not a jpeg at all") is None


def test_stratified_sample_rate_map_cap():
    """The when-chain is for CONFIG-sized rate maps only — the hard cap
    fires before any plan is built (no JVM needed)."""
    from mc2skos_spark.functions.sampling import stratified_sample
    with pytest.raises(ValueError, match="when-chain"):
        stratified_sample(None, "lang",
                          {"l%d" % i: 0.5 for i in range(300)})


def test_wav_decoder_chunk_walk_edges():
    """Pure-Python RIFF edges (no JVM): an odd-sized LIST chunk before
    fmt must be word-aligned past correctly; missing data chunk, zero
    block_align and non-RIFF prefixes all yield None."""
    import struct
    from mc2skos_spark.functions.multimodal import (decode_wav_header,
                                                    make_wav)
    base = make_wav(8000, 1, 10)
    # splice an odd-sized junk chunk between 'WAVE' and 'fmt '
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    body = base[12:]
    spliced = (b"RIFF" + struct.pack("<I", len(junk) + len(body) + 4)
               + b"WAVE" + junk + body)
    assert decode_wav_header(spliced) == decode_wav_header(base)
    # fmt present but data chunk missing
    no_data = base[:12 + 8 + 16]
    assert decode_wav_header(no_data) is None
    # zero block_align must not divide-by-zero
    broken = bytearray(base)
    broken[12 + 8 + 12:12 + 8 + 14] = struct.pack("<H", 0)
    assert decode_wav_header(bytes(broken)) is None
    assert decode_wav_header(b"RIFX" + base[4:]) is None
    assert decode_wav_header(b"") is None


def test_quality_classifier_train_score_loop(spark):
    """The gate's full production loop: MLlib LogisticRegression over
    hashed-bucket count vectors → quantized weight table → RELATIONAL
    scoring (broadcast join + integer logit).  On a margin-separated
    corpus the quantized relational scorer must reproduce the trained
    model's decisions on held-out docs, and the keep verdict must
    gate exactly at logit_q >= 0."""
    from mc2skos_spark.functions.classifier import (linear_text_scores,
                                                    train_quality_classifier)
    wiki = ["the history of %s is documented in several sources" % w
            for w in ("rome", "cairo", "kyoto", "paris", "lima",
                      "oslo", "quito", "dakar")]
    spam = ["click buy cheap %s now limited offer deal win" % w
            for w in ("pills", "watches", "tickets", "coins", "phones",
                      "rings", "bags", "shoes")]
    train = [(i, t, 1) for i, t in enumerate(wiki[:6])] + \
        [(100 + i, t, 0) for i, t in enumerate(spam[:6])]
    hold = [(200, wiki[6], 1), (201, wiki[7], 1),
            (210, spam[6], 0), (211, spam[7], 0)]
    train_df = spark.createDataFrame(
        train, "doc_id long, text string, y int")
    hold_df = spark.createDataFrame(
        hold, "doc_id long, text string, y int")

    weights, bias_q = train_quality_classifier(
        train_df, F.col("y") == 1, max_iter=50)
    assert weights and isinstance(next(iter(weights)), int)

    # the training-side vector assembly is JVM-side (map→dense-array
    # expansion + array_to_vector): no row-at-a-time Python ANYWHERE in
    # the repo, training DAG included (docs/PLANS.md's claim)
    from mc2skos_spark.functions.classifier import _bucket_vectors
    vec_plan = (_bucket_vectors(train_df, 256, "doc_id", "text",
                                F.col("y") == 1, "md5")
                ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in vec_plan
    assert "ArrowEvalPython" not in vec_plan

    scored = {r["doc_id"]: r for r in
              linear_text_scores(hold_df, weights, bias_q).collect()}
    truth = {i: y for i, _, y in hold}
    texts = {i: t for i, t, _ in hold}
    for doc_id, row in scored.items():
        assert (row["logit_q"] >= 0) == bool(truth[doc_id]), doc_id
        assert row["keep"] == (row["logit_q"] >= 0)
        assert row["n_grams"] == 2 * len(
            texts[doc_id].split()) - 1             # {1,2}-gram count

    # bad bucket ids and empty maps fail fast
    with pytest.raises(ValueError, match="empty weight"):
        linear_text_scores(hold_df, {})
    with pytest.raises(ValueError, match="outside"):
        linear_text_scores(hold_df, {999: 1})


def test_paragraph_dedup_keeper_and_rebuild(spark):
    """MassiveText repeated-passage removal: first occurrence (by
    doc_id, chunk_idx) wins across AND within documents; rebuilt text
    preserves chunk order; fully-duplicated docs stay as rows with
    n_kept = 0."""
    from mc2skos_spark.functions.dedup import paragraph_dedup
    P1 = "a b c d"          # 4 tokens = one chunk at para_tokens=4
    P2 = "e f g h"
    P3 = "i j k l"
    docs = spark.createDataFrame(
        [(1, f"{P1} {P2}"),            # original
         (2, f"{P2} {P3}"),            # shares P2 with doc 1
         (3, f"{P1} {P2}"),            # full duplicate of doc 1
         (4, f"{P3} {P3}")],           # intra-doc repeat (P3 lost to 2)
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           paragraph_dedup(docs, para_tokens=4).collect()}
    assert len(out) == 4                       # total over input docs
    assert (out[1]["n_paras"], out[1]["n_kept"],
            out[1]["kept_text"]) == (2, 2, f"{P1} {P2}")
    assert (out[2]["n_kept"], out[2]["kept_text"]) == (1, P3)
    assert (out[3]["n_kept"], out[3]["kept_text"]) == (0, "")
    assert (out[4]["n_paras"], out[4]["n_kept"],
            out[4]["kept_text"]) == (2, 0, "")  # both copies lose to 2
    with pytest.raises(ValueError, match="para_tokens"):
        paragraph_dedup(docs, para_tokens=0)


def test_paragraph_dedup_tail_chunk_and_determinism(spark):
    """Tail chunks shorter than the window dedup too, and the output
    is identical under different partitionings (struct-min keeper is
    a total order)."""
    from mc2skos_spark.functions.dedup import paragraph_dedup
    docs = spark.createDataFrame(
        [(10, "w x y z tail"),        # chunk0 'w x y z', chunk1 'tail'
         (11, "tail"),                # loses its only chunk to doc 10
         (12, "")],                   # empty doc: one empty chunk
        "doc_id long, text string")
    base = paragraph_dedup(docs, para_tokens=4)
    got = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["kept_text"])
           for r in base.collect()}
    assert got[10] == (2, 2, "w x y z tail")
    assert got[11] == (1, 0, "")
    assert got[12] == (1, 1, "")      # '' keeper is doc 12 itself
    re = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["kept_text"])
          for r in paragraph_dedup(docs.repartition(7), para_tokens=4)
          .collect()}
    assert re == got


def test_perplexity_buckets_thirds_and_ordering(spark):
    """CCNet head/middle/tail: per-language thirds by the order-2 LM
    score, head strictly the lowest-NLL band; every scored doc gets
    exactly one bucket; cutoffs are per-language (a second language
    with its own distribution buckets independently)."""
    from mc2skos_spark.functions.lm import (ngram_nll_scores,
                                            perplexity_buckets)
    fluent = "the cat sat on the mat and the cat sat again"
    rows = []
    for i in range(9):                 # en: repetitive -> varied
        words = fluent.split()
        noise = " ".join("tok%d%d" % (i, j) for j in range(i))
        rows.append((i, " ".join(words) + (" " + noise if noise else ""),
                     "en"))
    rows += [(100 + i, "uno dos tres " + "uniq%d " % i * (i + 1), "fr")
             for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string,"
                                       " lang string")
    out = perplexity_buckets(docs, order=2).collect()
    nll = ngram_nll_scores(docs, 2).collect()
    assert len(out) == len(nll)        # one bucket per scored doc

    # exact serial reference: same integer score, same ceil(k*n/3)
    # rank rule computed in plain Python
    lang_of = {i: lg for i, _, lg in rows}
    score = {r["doc_id"]: r["nll_q"] // r["n_transitions"] for r in nll}
    expect = {}
    for lang in {v for v in lang_of.values()}:
        ss = sorted(s for d, s in score.items() if lang_of[d] == lang)
        n = len(ss)
        c1 = next(s for i, s in enumerate(ss) if (i + 1) * 3 >= n)
        c2 = next(s for i, s in enumerate(ss) if (i + 1) * 3 >= 2 * n)
        for d, s in score.items():
            if lang_of[d] == lang:
                expect[d] = ("head" if s <= c1
                             else "middle" if s <= c2 else "tail")
    got = {r["doc_id"]: r["bucket"] for r in out}
    assert got == expect
    for r in out:                      # score column matches too
        assert r["avg_q"] == score[r["doc_id"]]
        assert r["lang"] == lang_of[r["doc_id"]]
    assert {"head", "tail"} <= set(got.values())   # non-degenerate


def test_gopher_rules_boundary_vectors(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) at its threshold
    boundary — integer cross-multiplication means the boundary is
    EXACT, no float epsilon."""
    from mc2skos_spark.functions.textstats import (gopher_gate,
                                                   gopher_quality_flags)

    good = ("the data to train with and that we have of it . " * 5)[:-1]
    docs = [
        # 0: passes everything (50+ short words, stopword-rich)
        ("pass", good),
        # 1: word count 49 < 50
        ("short", "the be to of and that have with " + "word " * 40
         + "tail"),
        # 2: mean word length > 10 (long tokens)
        ("longwords", ("supercalifragilistic " * 60) +
         "the be to of and that have with"),
        # 3: symbol ratio: hashes > 10% of words
        ("hashy", good + " " + "#" * 40),
        # 4: bullet lines > 10%
        ("bullets", good + ("\n- item" * 10)),
        # 5: ellipsis-ending lines > 30%
        ("trailing", good + ("\nto be continued..." * 10)),
        # 6: alpha-word ratio < 80%
        ("numeric", good + " " + "12345 " * 60),
        # 7: only one distinct stopword
        ("nostop", "the " + "lorem ipsum dolor sit amet " * 12),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    rows = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id", gopher_quality_flags(__import__("pyspark.sql.functions",
            fromlist=["col"]).col("text")).alias("g"))
        .select("doc_id", "g.*").collect()}
    assert rows["pass"]["gopher_pass"] is True
    failing = {"short": "ok_word_count",
               "longwords": "ok_mean_word_len",
               "hashy": "ok_symbol_ratio",
               "bullets": "ok_bullet_lines",
               "trailing": "ok_ellipsis_lines",
               "numeric": "ok_alpha_words",
               "nostop": "ok_stopwords"}
    for doc, flag in failing.items():
        assert rows[doc][flag] is False, (doc, flag, rows[doc])
        assert rows[doc]["gopher_pass"] is False, doc
    # the gate keeps exactly the passing doc
    kept = gopher_gate(df).collect()
    assert [r["doc_id"] for r in kept] == ["pass"]
    # empty text: no crash, word-count rule fails
    empty = spark.createDataFrame([("e", "")],
                                  "doc_id string, text string")
    r = gopher_gate(empty).count()
    assert r == 0


def test_repetition_profile_matches_per_column(spark):
    """Round-7 perf path: the single-tokenize repetition_profile struct
    must equal the separate dup_token_fraction / top_ngram_fraction
    columns on every doc shape (empty, single-token, all-dup, mixed)."""
    from mc2skos_spark.functions.textstats import (
        dup_token_fraction, repetition_profile, top_ngram_fraction)
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, ""), (4, "word"),
         (5, "x y x y x"), (6, "  Mixed CASE mixed case  ")],
        ["id", "txt"])
    sep = {r["id"]: (r["dup"], r["top2"]) for r in df.select(
        "id", dup_token_fraction(F.col("txt")).alias("dup"),
        top_ngram_fraction(F.col("txt"), 2).alias("top2")).collect()}
    one = {r["id"]: (r["g"]["dup_token_frac"], r["g"]["top_bigram_frac"])
           for r in df.select(
               "id", repetition_profile(F.col("txt")).alias("g"))
           .collect()}
    assert sep == one
