"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: the full KG-construction pipeline (transcripts →
              reassembly → Arrow extraction → dedup → canonicalization)
              over deterministic transcripts, with sf0.001 documents
              woven in as non-payload turns.
``queries`` — one entry per implemented operator family from
              SURVEY.md §2 (and the training-data extras), each expressed
              over the driver's parquet tables.
``oracle_sql`` — DuckDB-runnable equivalents for EVERY query: ANSI SQL
              where expressible (iterative ops get WITH RECURSIVE
              oracles), precomputed VALUES literals for the
              xxhash64-dependent ops (deterministic seeded outputs;
              regenerate with tools/gen_oracle_values.py), and the
              reference's own golden Turtle as a VALUES literal for
              the end-to-end KG query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# the engine package lives next to this file; make imports robust to
# whatever cwd the driver harness runs from
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


class _TableMeta:
    """What ``_t`` knows about one table path: the file signature it
    was learned from, Spark's inferred schema, and the scan layout
    (``None`` until a widen decision needs it)."""

    __slots__ = ("sig", "schema", "layout")

    def __init__(self, sig: tuple, schema) -> None:
        self.sig = sig
        self.schema = schema
        self.layout: tuple[int, int] | None = None


#: path -> _TableMeta; an entry whose signature no longer matches the
#: files on disk is replaced, so a rewritten table is inferred again
_TABLE_META: dict[str, _TableMeta] = {}


def _table_meta(spark: SparkSession, path: str) -> _TableMeta:
    """Metadata for the table at ``path``, cached per file signature:
    ``(file, mtime_ns, size)`` of the file, or of each entry of a
    directory that Spark would read (names starting with ``_`` or
    ``.`` are hidden from Spark, so they are left out here too).  A
    missing path raises ``FileNotFoundError`` naming it."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if not f.startswith(("_", "."))]
             if os.path.isdir(path) else [path])
    sig = tuple((f, st.st_mtime_ns, st.st_size)
                for f, st in ((f, os.stat(f)) for f in files))
    meta = _TABLE_META.get(path)
    if meta is None or meta.sig != sig:
        meta = _TABLE_META[path] = _TableMeta(
            sig, spark.read.parquet(path).schema)
    return meta


def _scan_layout(files: list[str]) -> tuple[int, int]:
    """(row-group count, row count) across ``files`` — driver-side
    footer metadata only.  A parquet row group is the atomic unit of
    scan parallelism: byte-range splits beyond the row-group count
    produce empty tasks."""
    import pyarrow.parquet as pq
    rg = rows = 0
    for f in files:
        m = pq.ParquetFile(f).metadata
        rg += m.num_row_groups
        rows += m.num_rows
    return max(rg, 1), rows


#: tables whose downstream operators are compute-heavy PER ROW
#: (tokenization, gram hashing) — for these, an unsplittable input
#: file serializes the whole map side, and one narrow shuffle to
#: spread the rows pays for itself many times over.  Numeric fact
#: tables (lineitem, events, orders…) are deliberately NOT widened:
#: their per-row work is cheap and the extra exchange measured
#: net-negative (t9 at sf0.1: 0.71 s -> 0.90 s); embeddings likewise
#: (the SemDeDup candidate stage is post-shuffle and already
#: saturates the cores — widening only added its exchange:
#: dedup_semantic 1.63 s -> 1.86 s at sf0.1).
_WIDEN_TABLES = ("documents",)


def _t(spark: SparkSession, sf_dir: str, name: str,
       widen: bool = False) -> DataFrame:
    _ship(spark)
    path = os.path.join(sf_dir, name + ".parquet")
    # read with the schema cached per file signature: only the first
    # read of a table, or of a rewritten one, pays Spark's inference (a
    # one-task job); later reads launch no job until an action
    meta = _table_meta(spark, path)
    df = spark.read.schema(meta.schema).parquet(path)
    if widen and name in _WIDEN_TABLES:
        # unsplittable-input fix (optimization guide §2.5): the driver
        # testdata writes each table as ONE file with ONE row group, so
        # every scan is a single task and all map-side compute
        # serializes on one core regardless of cluster size.  When the
        # available splits are far below the session's parallelism and
        # the table is big enough to matter, repartition right after
        # the read (row-preserving; every query's result is
        # content-defined).  Scale-adaptive, not local-tuned: a
        # production table with healthy row groups skips this
        # (splits >= cores/2), tiny correctness SFs skip it (row
        # floor), and the decision reads only file metadata: a table
        # with at least cores/2 files has at least that many splits, so
        # no footer is opened for it.
        # Measured: text_lm5_nll at sf0.1 2.58 s -> 1.55 s.
        #
        # widen=True opts a CONSUMER in; the default reads the table
        # as-is.  Only heavy per-row regex/gram consumers of most rows'
        # text opt in (pii 0.51 vs 3.6 s, gopher 0.58 vs 1.11, langid
        # 0.47 vs 1.15, LM family, classifier at 10x).  Filters and
        # projections do NOT push below a round-robin Exchange, so a
        # query that keeps only ids/metadata, or immediately filters to
        # a small doc_id subset, would shuffle the whole text column
        # for nothing (and re-shuffle it once per re-scan of an
        # uncached subtree — measured 25-40% regressions on
        # graph_triangles / pagerank / the incremental-dedup rows).
        # Cheap token_count-only consumers (pack_sequences,
        # corpus_token_stats, fingerprints, chunking...) stay out too:
        # interleaved on/off A/Bs at BOTH the 1-split and 10-split
        # layouts show the text exchange costing more than their map
        # side gains.  The widen is a property of the consumer's
        # per-row text work, not of the table.
        cores = spark.sparkContext.defaultParallelism
        floor = max(cores // 2, 2)
        if len(meta.sig) < floor:
            if meta.layout is None:
                meta.layout = _scan_layout([f for f, _, _ in meta.sig])
            splits, rows = meta.layout
            if splits < floor and rows >= 2000:
                df = df.repartition(cores)
    return df


def _ship(spark: SparkSession) -> None:
    """Executors must be able to import the package even when the
    harness launched Spark from an arbitrary cwd without --py-files."""
    from mc2skos_spark.plans.shiplib import ensure_shipped
    ensure_shipped(spark)


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: KG construction end-to-end; returns the triples."""
    from mc2skos_spark.operators.canonicalize import (canonical_mapping,
                                                      rewrite_canonical)
    from mc2skos_spark.operators.extract import (extract_triples,
                                                 triples_from_extracted)
    from mc2skos_spark.plans import schemas
    from mc2skos_spark.sources.synth import (make_transcript_rows,
                                             synth_marc_records)
    from mc2skos_spark.sources.transcripts import reassemble_records

    _ship(spark)
    rows = make_transcript_rows(synth_marc_records(200, seed=42), seed=43)
    transcripts = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)

    # weave the sf0.001 documents in as non-payload turns: the scan +
    # payload filter drops them, proving stage 0 tolerates mixed traffic.
    docs = _t(spark, "/root/testdata/sf0.001", "documents", widen=True)
    filler = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))
    transcripts = transcripts.unionByName(filler)

    records = reassemble_records(transcripts)
    triples = triples_from_extracted(extract_triples(records)).cache()
    return rewrite_canonical(triples, canonical_mapping(triples))


# -------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mc2skos_spark.functions.dedup import (exact_duplicates,
                                               minhash_lsh_candidates,
                                               minhash_signatures,
                                               minhash_similarity,
                                               ngram_jaccard_pairs, simhash,
                                               simhash_near_pairs)
    from mc2skos_spark.functions.similarity import cosine_topk
    from mc2skos_spark.functions.textstats import (fingerprint, langid_guess,
                                                   quality_score, token_count)
    from mc2skos_spark.operators.canonicalize import connected_components

    # --- S1 / stage 0: ordered reassembly (events stand in for turns)
    def s1_reassembly(spark, sf_dir):
        events = _t(spark, sf_dir, "events")
        return (events.groupBy("user_id")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("ts", "event_id", "event_type"))),
                        lambda s: s["event_type"]), ">").alias("journey")))

    # --- P1/P2: leader-style dispatch + skip filters
    def p1_leader_dispatch(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        kind = (F.when(F.col("lang") == "en", "classification")
                .when(F.col("lang") == "es", "authority")
                .otherwise("invalid"))
        return (docs.select(kind.alias("kind"))
                .groupBy("kind").agg(F.count(F.lit(1)).alias("cnt")))

    # --- P3: publish filter (flag + predicate + substring gate)
    def p3_publish_filter(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return (docs.filter((F.col("n_chars") > 100) &
                            ~F.col("text").contains("dup"))
                .select("doc_id", "n_chars"))

    # --- T1: precedence coalesce
    def t1_precedence_coalesce(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        resolved = F.coalesce(F.nullif("o_orderpriority", F.lit("5-LOW")),
                              F.col("o_orderstatus"))
        return (orders.select(resolved.alias("resolved"))
                .groupBy("resolved").agg(F.count(F.lit(1)).alias("cnt")))

    # --- T2/T3: date decode + group
    def t2_date_decode(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        return (orders
                .groupBy(F.year("o_orderdate").alias("yr"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.date_format(F.min("o_orderdate"),
                                   "yyyy-MM-dd").alias("first_day"),
                     F.round(F.sum("o_totalprice"), 2).alias("turnover")))

    # --- T5: fixed-position flag decode tower
    def t5_flag_decode(spark, sf_dir):
        part = _t(spark, sf_dir, "part")
        flag = F.substring("p_brand", 7, 1)
        decoded = (F.when(flag == "1", "schedule")
                   .when(flag == "2", "table")
                   .when(flag == "3", "external_summary")
                   .when(flag == "4", "internal_summary")
                   .otherwise("unknown"))
        return (part.select(flag.alias("flag"), decoded.alias("decoded"))
                .groupBy("flag", "decoded")
                .agg(F.count(F.lit(1)).alias("cnt")))

    # --- T7: URI minting (template expansion + whitespace policy)
    def t7_uri_mint(spark, sf_dir):
        customer = _t(spark, sf_dir, "customer")
        uri = F.concat(
            F.lit("http://example.org/customer/"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0"),
            F.lit("-"),
            F.regexp_replace(F.lower("c_name"), " ", "-"))
        return customer.select("c_custkey", uri.alias("uri"))

    # --- T8: broadcast dim join (scheme resolution analog)
    def t8_broadcast_scheme_join(spark, sf_dir):
        customer = _t(spark, sf_dir, "customer")
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        return (customer
                .join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey)
                .join(F.broadcast(region),
                      nation.n_regionkey == region.r_regionkey)
                .groupBy(F.col("r_name").alias("region"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.round(F.sum("c_acctbal"), 2).alias("balance")))

    # --- P7: quarantine split (anti join)
    def p7_quarantine_antijoin(spark, sf_dir):
        customer = _t(spark, sf_dir, "customer")
        orders = _t(spark, sf_dir, "orders")
        return (customer.join(orders,
                              customer.c_custkey == orders.o_custkey,
                              "left_anti")
                .select("c_custkey"))

    # --- T9: ordered conditional-separator fold (stringify analog)
    def t9_stringify_fold(spark, sf_dir):
        lineitem = _t(spark, sf_dir, "lineitem")
        folded = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("l_linenumber", "l_returnflag"))),
                lambda s: F.when(s["l_returnflag"] == "R",
                                 F.concat(F.lit("-"), s["l_returnflag"]))
                           .otherwise(F.concat(F.lit(" "),
                                               s["l_returnflag"]))), "")
        return (lineitem.groupBy("l_orderkey")
                .agg(folded.alias("flags")))

    # --- U1: triple fan-out (unpivot)
    def u1_triple_fanout(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
        branches = [
            docs.select(subj.alias("subj"), F.lit("lang").alias("pred"),
                        F.col("lang").alias("obj")),
            docs.select(subj.alias("subj"), F.lit("source").alias("pred"),
                        F.col("source").alias("obj")),
            docs.select(subj.alias("subj"), F.lit("n_chars").alias("pred"),
                        F.col("n_chars").cast("string").alias("obj")),
        ]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    # --- G1: set dedup
    def g1_dedup_set(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.select("lang", "source").distinct()

    # --- G2: inverse-edge expansion
    def g2_inverse_expand(spark, sf_dir):
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        edges = (nation.join(F.broadcast(region),
                             nation.n_regionkey == region.r_regionkey)
                 .select(F.col("n_name").alias("subj"),
                         F.lit("in_region").alias("pred"),
                         F.col("r_name").alias("obj")))
        inverses = edges.select(F.col("obj").alias("subj"),
                                F.lit("has_nation").alias("pred"),
                                F.col("subj").alias("obj"))
        return edges.unionByName(inverses).distinct()

    # --- G4/S4: ordered sink with regex-derived sort key.  The rank is
    #     produced by the scalable range-partitioned pattern (per-
    #     partition row_number + offsets), NOT a global single-task
    #     window — same oracle output, no one-partition WindowExec.
    def g4_ordered_sink_key(spark, sf_dir):
        from mc2skos_spark.operators.rank import global_rank
        part = _t(spark, sf_dir, "part")
        key = (F.when(F.col("p_type").startswith("STANDARD"),
                      F.concat(F.lit("C"), F.col("p_name")))
               .when(F.col("p_type").startswith("SMALL"),
                     F.concat(F.lit("B"), F.col("p_name")))
               .otherwise(F.concat(F.lit("A"), F.col("p_name"))))
        keyed = part.select("p_partkey", key.alias("sort_key"))
        return global_rank(keyed, ["sort_key", "p_partkey"], rank_col="rk")

    # --- window: per-key ordered ranking (stage-0 ordering primitive)
    def w1_window_rank(spark, sf_dir):
        from pyspark.sql import Window
        events = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (events
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 3)
                .select("user_id", "rn", "event_id", "event_type"))

    # --- CC: union-find connected components (SQL oracle via clique
    #     structure: nations sharing a region form one component)
    def cc_region_cliques(spark, sf_dir):
        nation = _t(spark, sf_dir, "nation")
        a, b = nation.alias("a"), nation.alias("b")
        edges = (a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
                 .filter(F.col("a.n_name") <= F.col("b.n_name"))
                 .select(F.col("a.n_name").alias("src"),
                         F.col("b.n_name").alias("dst")))
        return (connected_components(edges)
                .select(F.col("vertex"), F.col("comp")))

    # --- KG end-to-end: the REAL extraction semantics — 153 state
    #     machine (F1), 765 components (F2), mapping scan (F3), triple
    #     fan-out (U1-U4), edge derivation (E1-E6), flag decode /
    #     URI minting / scheme resolution (T5/T7/T8) — run over the
    #     reference example corpus re-sharded into transcript turns.
    #     The oracle is a VALUES literal of the reference's own golden
    #     Turtle output (35 exact files; the stale `rvk` golden is
    #     excluded, see tests/test_examples_golden.py), so the driver
    #     hash-verifies the pipeline's emitted triples against the
    #     reference conversions — the same parity
    #     /root/reference/test/test_process_examples.py:45-46 gates.
    #     The whole corpus runs as ONE DAG even though the flag families
    #     differ: conversation ids are prefixed with a family key, and
    #     extract_triples resolves each record's conversion flags
    #     per-row via options_by_key inside the single Arrow pass — the
    #     production shape for mixed-vocabulary corpora (a driver loop
    #     of per-family DAGs would mean one shuffle set per family).
    def kg_golden_triples(spark, sf_dir):
        from mc2skos_spark.operators.extract import (
            extract_triples, triples_from_extracted)
        from mc2skos_spark.plans import schemas
        from mc2skos_spark.sources.examples import golden_record_families
        from mc2skos_spark.sources.synth import make_transcript_rows
        from mc2skos_spark.sources.transcripts import reassemble_records
        _ship(spark)
        cols = ["subj", "pred", "obj", "obj_is_literal",
                "obj_lang", "obj_datatype", "component_pos"]
        options_by_key = {}
        all_rows = []
        for fi, (options, default_scheme, recs) in enumerate(
                golden_record_families({"rvk"})):
            key = "f%d" % fi
            options_by_key[key] = (options, default_scheme)
            for row in make_transcript_rows(recs, seed=17):
                all_rows.append((key + "|" + row[0],) + tuple(row[1:]))
        df = spark.createDataFrame(all_rows, schema=schemas.TRANSCRIPTS)
        records = reassemble_records(df).withColumn(
            "opt_key", F.substring_index("conv_id", "|", 1))
        t = triples_from_extracted(
            extract_triples(records, options_by_key=options_by_key))
        return t.select(*cols).distinct()

    # --- S4 rendered sink: the ordered-Turtle serializer's ACTUAL bytes
    #     for the gnd golden family, end-to-end (transcripts →
    #     reassembly → extraction → triples_to_turtle).  The oracle is a
    #     VALUES literal rendered from the reference's own golden
    #     /root/reference/examples/gnd-1020118989.ttl (parsed triples →
    #     the sink's documented block layout), so the driver
    #     hash-verifies the serialized output, not just the triple set.
    def s4_turtle_blocks(spark, sf_dir):
        from mc2skos_spark.operators.extract import (
            extract_triples, triples_from_extracted)
        from mc2skos_spark.plans import schemas
        from mc2skos_spark.sinks.serializers import triples_to_turtle
        from mc2skos_spark.sources.examples import golden_record_families
        from mc2skos_spark.sources.synth import make_transcript_rows
        from mc2skos_spark.sources.transcripts import reassemble_records
        _ship(spark)
        for options, default_scheme, recs in golden_record_families():
            if default_scheme != "gnd":
                continue
            rows = make_transcript_rows(recs, seed=29)
            df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
            triples = triples_from_extracted(
                extract_triples(reassemble_records(df), options,
                                default_scheme))
            return triples_to_turtle(triples)
        raise RuntimeError("gnd family missing from reference examples")

    # --- S5 rendered sink: the JSKOS/NDJSON serializer's ACTUAL lines
    #     for the gnd golden family, end-to-end (transcripts →
    #     reassembly → extraction → triples_to_jskos).  The oracle is a
    #     VALUES literal framed from the reference's own golden
    #     /root/reference/examples/gnd-1020118989.ttl via an INDEPENDENT
    #     restatement of the JSON-LD context mapping
    #     (/root/reference/mc2skos/jskos-context.json, applied at
    #     mc2skos.py:348-358) in tools/gen_oracle_values.py — so the
    #     driver hash-verifies the rendered JSON (sorted-keys canonical
    #     form), closing the last output format without a rendered-bytes
    #     gate.
    def s5_jskos_docs(spark, sf_dir):
        from mc2skos_spark.operators.extract import (
            extract_triples, triples_from_extracted)
        from mc2skos_spark.plans import schemas
        from mc2skos_spark.sinks.jskos import triples_to_jskos
        from mc2skos_spark.sources.examples import golden_record_families
        from mc2skos_spark.sources.synth import make_transcript_rows
        from mc2skos_spark.sources.transcripts import reassemble_records
        _ship(spark)
        for options, default_scheme, recs in golden_record_families():
            if default_scheme != "gnd":
                continue
            rows = make_transcript_rows(recs, seed=31)
            df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
            triples = triples_from_extracted(
                extract_triples(reassemble_records(df), options,
                                default_scheme))
            return triples_to_jskos(triples)
        raise RuntimeError("gnd family missing from reference examples")

    # --- streaming completeness gate, batch-expressed: the query's own
    #     predicate (streaming/incremental.complete_conversations — a
    #     conversation is complete when its turns cover a contiguous
    #     0..max range AND the max turn carries the terminal marker),
    #     run over the events table recast as transcript turns.  event_id % 16 gives each user a residue set
    #     that is usually-but-not-always contiguous, and only 'purchase'
    #     events mint the terminal marker, so both halves of the
    #     predicate discriminate (68 of 150 conversations pass at
    #     sf0.01).
    def st_completeness_gate(spark, sf_dir):
        from mc2skos_spark.streaming.incremental import (
            complete_conversations)
        events = _t(spark, sf_dir, "events")
        turns = events.select(
            F.col("user_id").alias("conv_id"),
            F.pmod("event_id", F.lit(16)).cast("int").alias("turn_idx"),
            F.when(F.col("event_type") == "purchase", "assistant")
             .otherwise("user").alias("role"),
            F.when(F.col("event_type") == "purchase", "done")
             .otherwise(F.col("event_type")).alias("text"))
        return complete_conversations(turns)

    # --- G3 validation slice: skos:broader cycle detection (skosify's
    #     hierarchy check).  Edges: the doc-id binary tree (i → i/2)
    #     over doc_id < 64 plus one planted back-edge 1 → 63, creating
    #     the cycle 63→31→15→7→3→1→63; the detector reuses the
    #     transitive-closure doubling loop and reports the diagonal.
    def tc_cycle_detect(spark, sf_dir):
        from mc2skos_spark.operators.closure import cycle_members
        docs = _t(spark, sf_dir, "documents").filter(
            (F.col("doc_id") >= 1) & (F.col("doc_id") < 64))
        tree = docs.select(
            F.col("doc_id").cast("int").alias("src"),
            F.shiftright(F.col("doc_id").cast("int"), 1).alias("dst"))
        back = spark.createDataFrame([(1, 63)], "src int, dst int")
        return cycle_members(tree.unionByName(back))

    # --- streaming windowed metrics, batch-expressed: the REAL
    #     watermark+window transformation (streaming/metrics.py) is
    #     batch/stream agnostic, so the driver gate runs it over the
    #     events table recast as transcript turns (1-day tumbling
    #     event-time windows; exact=True swaps the streaming-state
    #     approx_count_distinct for an oracle-able exact distinct).
    #     Epoch-second window bounds keep the comparison TZ-proof.
    def st_turn_rate_metrics(spark, sf_dir):
        from mc2skos_spark.streaming.metrics import turn_rate_metrics
        events = _t(spark, sf_dir, "events")
        turns = events.select(
            F.col("user_id").alias("conv_id"), "ts",
            F.col("event_type").alias("text"),
            F.when(F.col("event_type") == "purchase", "marc_export")
             .otherwise("other").alias("tool"))
        m = turn_rate_metrics(turns, window_duration="1 day", exact=True)
        return m.select(
            F.unix_timestamp("window_start").alias("ws"),
            F.unix_timestamp("window_end").alias("we"),
            "turns", "payload_turns", "conversations", "payload_chars")

    # --- G3 validation slice 2: label-conflict detection (skosify's
    #     check pass — same-scheme concepts sharing a (prefLabel, lang)
    #     are merge candidates).  Documents stand in as concepts: the
    #     label buckets (lang + n_chars mod 40) guarantee collisions,
    #     and the REAL operator (shared_preflabels) runs over a proper
    #     triples table with inScheme membership edges.
    def g3_label_conflicts(spark, sf_dir):
        from mc2skos_spark.core.constants import SKOS
        from mc2skos_spark.operators.validate import shared_preflabels
        docs = _t(spark, sf_dir, "documents")
        subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
        label = F.concat("lang", F.lit("-"),
                         (F.col("n_chars") % 40).cast("string"))
        nulls = [F.lit(None).cast("string").alias("obj_datatype"),
                 F.lit(None).cast("int").alias("component_pos"),
                 F.lit(None).cast("string").alias("record_id")]
        prefs = docs.select(
            subj.alias("subj"), F.lit(SKOS + "prefLabel").alias("pred"),
            label.alias("obj"), F.lit(True).alias("obj_is_literal"),
            F.col("lang").alias("obj_lang"), *nulls)
        schemes = docs.select(
            subj.alias("subj"), F.lit(SKOS + "inScheme").alias("pred"),
            F.col("source").alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_lang"), *nulls)
        return shared_preflabels(prefs.unionByName(schemes))

    # --- Entity-link scoring (north_star: "entity-link scoring"):
    #     cross-scheme alignment candidates by prefLabel n-gram Jaccard
    #     through the REAL operator (label_link_candidates) over a
    #     triples table built from documents.  The corpus has no
    #     natural cross-source near-identical texts, so plant
    #     one-token-appended copies of the first 60 docs under a
    #     'planted' scheme; same-scheme duplicates are excluded by the
    #     operator (that is validate.shared_preflabels' job) — both
    #     halves of the policy discriminate.
    def el_label_links(spark, sf_dir):
        from mc2skos_spark.core.constants import SKOS
        from mc2skos_spark.operators.linking import label_link_candidates
        docs = (_t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 300)
                .select("doc_id", "text", "source"))
        planted = docs.filter(F.col("doc_id") < 60).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat("text", F.lit(" qq")).alias("text"),
            F.lit("planted").alias("source"))
        aug = docs.unionByName(planted)
        subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
        nulls = [F.lit(None).cast("string").alias("obj_datatype"),
                 F.lit(None).cast("int").alias("component_pos"),
                 F.lit(None).cast("string").alias("record_id")]
        prefs = aug.select(
            subj.alias("subj"), F.lit(SKOS + "prefLabel").alias("pred"),
            F.col("text").alias("obj"), F.lit(True).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_lang"), *nulls)
        schemes = aug.select(
            subj.alias("subj"), F.lit(SKOS + "inScheme").alias("pred"),
            F.col("source").alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_lang"), *nulls)
        return label_link_candidates(prefs.unionByName(schemes),
                                     threshold=0.8, n=2,
                                     max_shingle_freq=50)

    # --- TC: iterative transitive closure (skosify transitive=True
    #     analog — /root/reference/examples/skosify.cfg:3).  Edges form
    #     a binary tree over doc ids (i → i/2), depth ~log2(n), so the
    #     doubling loop exercises real multi-round convergence.
    def tc_transitive_closure(spark, sf_dir):
        from mc2skos_spark.operators.closure import transitive_closure
        docs = _t(spark, sf_dir, "documents")
        edges = (docs.filter(F.col("doc_id") >= 1)
                 .select(F.col("doc_id").cast("int").alias("src"),
                         F.shiftright(F.col("doc_id").cast("int"), 1)
                          .alias("dst")))
        return transitive_closure(edges)

    # --- P4: xpath-style projection over array columns (higher-order
    #     filter/transform/exists — the datafields-array analog)
    def p4_array_projection(spark, sf_dir):
        from mc2skos_spark.functions.textstats import tokens
        docs = _t(spark, sf_dir, "documents", widen=True)
        toks = tokens(F.lower(F.col("text")))
        return docs.select(
            "doc_id",
            F.size(F.filter(toks, lambda t: t.startswith("s")))
             .alias("s_tokens"),
            F.exists(toks, lambda t: t == "spark").alias("mentions_spark"),
            F.array_max(F.transform(toks, F.length)).alias("longest_token"))

    # --- B: multi-level aggregation (rollup/grouping sets)
    def b1_rollup(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return (docs.rollup("lang", "source")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("n_chars").alias("chars"))
                .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                        F.coalesce("source", F.lit("ALL")).alias("source"),
                        "cnt", "chars"))

    # --- full CUBE (all 4 grouping sets, vs rollup's 3): Spark plans
    #     one Expand + one hash aggregate — the Expand multiplies rows
    #     by the number of grouping sets BEFORE the shuffle, so at
    #     100 TB you cube on low-cardinality dims only (lang × source
    #     here) and let partial aggregation collapse the expansion
    #     map-side.
    def b2_cube(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return (docs.cube("lang", "source")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("n_chars").alias("chars"))
                .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                        F.coalesce("source", F.lit("ALL")).alias("source"),
                        "cnt", "chars"))

    # --- dedup family
    def dedup_exact(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return exact_duplicates(docs, "doc_id", "text")

    def dedup_ngram_jaccard(spark, sf_dir):
        # max_shingle_freq ON: the stop-shingle cap is what keeps the
        # shingle self-join linear at scale — the verified path runs it
        # (the oracle mirrors it with a HAVING pre-filter).
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
        return ngram_jaccard_pairs(docs, "doc_id", "text", n=2,
                                   threshold=0.8, max_shingle_freq=50)

    def dedup_near_clusters(spark, sf_dir):
        # the dedup DECISION step: candidate pairs → union-find
        # clusters → keeper per cluster (min id); singletons keep
        # themselves.  Oracle: recursive reachability in SQL.
        from mc2skos_spark.functions.dedup import near_dup_keepers
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=2,
                                    threshold=0.8, max_shingle_freq=50)
        return near_dup_keepers(docs, pairs)

    def dedup_minhash_lsh(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        # the signature table feeds THREE joins (banded self-join +
        # two similarity lookups): materialize it once (lazy lineage
        # cut), exactly as a staged pipeline would snapshot it
        sigs = minhash_signatures(docs, "doc_id", "text", n=2,
                                  num_hashes=16).localCheckpoint(False)
        cands = minhash_lsh_candidates(sigs, bands=4)
        return (minhash_similarity(sigs, cands)
                .filter(F.col("est_jaccard") >= 0.9))

    def dedup_incremental_minhash(spark, sf_dir):
        # The production 100 TB dedup shape: corpus signatures persisted
        # ONCE through the Icebergish catalog (banded index tables),
        # each arriving batch signs only itself and equi-joins the
        # PERSISTED banded buckets — no corpus recompute, and the
        # commit appends only the batch's files (catalog.append).
        # Here: docs < 400 are the ingested corpus, 400-499 the
        # arriving batch; output = every near-dup pair touching the
        # batch (cross-batch + batch-internal), same signing params as
        # dedup_minhash_lsh so the result is exactly that query's
        # pairs restricted to the batch.
        import shutil
        import tempfile
        from mc2skos_spark.functions.incremental import (
            create_minhash_index, incremental_minhash_pairs)
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        corpus = docs.filter(F.col("doc_id") < 400)
        batch = docs.filter(F.col("doc_id") >= 400)
        wh = tempfile.mkdtemp(prefix="mc2skos_incr_")
        try:
            catalog = IcebergishCatalog(wh, spark)
            create_minhash_index(catalog, "docs_minhash", corpus,
                                 "doc_id", "text", n=2, num_hashes=16,
                                 bands=4)
            # commit=True materializes the pairs via localCheckpoint,
            # so the warehouse can be deleted before the driver
            # collects — repeated bench/sweep runs leave no /tmp litter
            return incremental_minhash_pairs(
                catalog, "docs_minhash", batch, "doc_id", "text",
                threshold=0.9)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def dedup_incremental_keepers(spark, sf_dir):
        # The incremental dedup DECISION: keeper assignment for an
        # arriving batch against the persisted cluster state — pairs
        # from the persisted-index join, then a union-find over (batch
        # pairs + corpus-doc→keeper routing edges), append-only keeper
        # + remap commits (cluster merges never rewrite history).
        # Same split as dedup_incremental_minhash; output = (id,
        # keeper_id) for every batch doc.
        import shutil
        import tempfile
        from mc2skos_spark.functions.incremental import (
            create_minhash_index, incremental_keeper_assign)
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        corpus = docs.filter(F.col("doc_id") < 400)
        batch = docs.filter(F.col("doc_id") >= 400)
        wh = tempfile.mkdtemp(prefix="mc2skos_incrk_")
        try:
            catalog = IcebergishCatalog(wh, spark)
            create_minhash_index(catalog, "docs_minhash",
                                 corpus.limit(0), "doc_id", "text",
                                 n=2, num_hashes=16, bands=4)
            incremental_keeper_assign(catalog, "docs_minhash", corpus,
                                      "doc_id", "text", threshold=0.9,
                                      batch_id=0)
            return incremental_keeper_assign(
                catalog, "docs_minhash", batch, "doc_id", "text",
                threshold=0.9, batch_id=1)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def dedup_incremental_semantic(spark, sf_dir):
        # The incremental SemDeDup shape: the corpus's (id, centroid,
        # unit-vector) rows persisted once with centroids FIXED from
        # the corpus slice; the arriving batch is assigned via the
        # broadcast matmul-argmax and scored against its centroid
        # buckets only (equi-join on centroid — batch×corpus +
        # batch×batch, never all-pairs).  Batch = fresh vecs 400-449
        # plus jittered copies of corpus vecs < 50 (same transform as
        # dedup_semantic), so cross-batch near-pairs are guaranteed;
        # output = every semantic pair touching the batch.
        import shutil
        import tempfile
        from mc2skos_spark.functions.incremental import (
            create_semantic_index, incremental_semantic_pairs)
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.select("vec_id", F.col("embedding")
                          .cast("array<double>").alias("embedding"))
        corpus = base.filter(F.col("vec_id") < 400)
        planted = (base.filter(F.col("vec_id") < 50)
                   .select((F.col("vec_id") + 100000).alias("vec_id"),
                           F.zip_with("embedding", F.reverse("embedding"),
                                      lambda x, y: x + F.lit(0.15) * y)
                            .alias("embedding")))
        batch = (base.filter((F.col("vec_id") >= 400)
                             & (F.col("vec_id") < 450))
                 .unionByName(planted))
        wh = tempfile.mkdtemp(prefix="mc2skos_incrs_")
        try:
            catalog = IcebergishCatalog(wh, spark)
            create_semantic_index(catalog, "docs_semantic", corpus,
                                  "vec_id", "embedding",
                                  num_centroids=16, centroid_mod=8)
            # commit=True materializes pairs before the append, so the
            # temp warehouse can be deleted before the driver collects
            return incremental_semantic_pairs(
                catalog, "docs_semantic", batch, "vec_id", "embedding",
                threshold=0.97)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def dedup_incremental_semantic_keepers(spark, sf_dir):
        # The full incremental SemDeDup DECISION, two batches deep:
        # corpus ingested as batch 0, the jittered batch as batch 1
        # (same split as dedup_incremental_semantic), then the RESOLVED
        # keeper table over everything — pairs from the persisted-index
        # joins, per-batch union-find against the persisted cluster
        # state, append-only keeper/remap commits, remap chains
        # pointer-jumped.  Centroids are fixed from the corpus slice;
        # the oracle recomputes the same centroids, pairs and the
        # recursive connected-component keeper from scratch — so a
        # hash match proves sequential-incremental == from-scratch.
        import shutil
        import tempfile
        from mc2skos_spark.functions.incremental import (
            create_semantic_index, current_keepers,
            incremental_semantic_keeper_assign)
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.select("vec_id", F.col("embedding")
                          .cast("array<double>").alias("embedding"))
        corpus = base.filter(F.col("vec_id") < 400)
        planted = (base.filter(F.col("vec_id") < 50)
                   .select((F.col("vec_id") + 100000).alias("vec_id"),
                           F.zip_with("embedding", F.reverse("embedding"),
                                      lambda x, y: x + F.lit(0.15) * y)
                            .alias("embedding")))
        batch = (base.filter((F.col("vec_id") >= 400)
                             & (F.col("vec_id") < 450))
                 .unionByName(planted))
        wh = tempfile.mkdtemp(prefix="mc2skos_incrsk_")
        try:
            catalog = IcebergishCatalog(wh, spark)
            create_semantic_index(catalog, "docs_semantic",
                                  corpus.limit(0), "vec_id", "embedding",
                                  num_centroids=16, centroid_mod=8,
                                  centroid_source=corpus)
            incremental_semantic_keeper_assign(
                catalog, "docs_semantic", corpus, "vec_id", "embedding",
                threshold=0.97, batch_id=0)
            incremental_semantic_keeper_assign(
                catalog, "docs_semantic", batch, "vec_id", "embedding",
                threshold=0.97, batch_id=1)
            # materialize before the warehouse is deleted
            return current_keepers(catalog, "docs_semantic") \
                .localCheckpoint()
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def dedup_simhash(spark, sf_dir):
        # Verified at the scale-realistic radius k=3 (16-bit pigeonhole
        # blocks, 65k values per band — see the band-cardinality bound
        # in simhash_near_pairs).  The corpus holds almost no natural
        # hamming≤3 pairs, so plant deterministic one-token-appended
        # copies of the first 40 docs: their signatures differ in only
        # the bits that one extra token's votes flip.
        docs = (_t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 200).select("doc_id", "text"))
        planted = docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"))
        # banded pairing self-joins the signature table → compute once
        sigs = simhash(docs.unionByName(planted),
                       "doc_id", "text").localCheckpoint(False)
        return simhash_near_pairs(sigs, max_hamming=3)

    def dedup_embedding_cosine(spark, sf_dir):
        # Near-dup dedup through the 100 TB path: hyperplane-LSH buckets
        # + multi-probe candidate join + exact rerank.  The driver's
        # random embeddings hold no near-dup pairs, so the query plants
        # deterministic jittered copies (v + 0.15·reverse(v), cosine
        # ≈0.99) of the first 100 vectors — the oracle mirrors the
        # plant in SQL and stays exact all-pairs: the bucketed output
        # must EQUAL it (multiprobe=3 is empirically exact-recall here,
        # see tests/test_scale_paths.py).
        from mc2skos_spark.functions.dedup import embedding_near_dup_pairs
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.select("vec_id", F.col("embedding")
                          .cast("array<double>").alias("embedding"))
        planted = (base.filter(F.col("vec_id") < 100)
                   .select((F.col("vec_id") + 100000).alias("vec_id"),
                           F.zip_with("embedding", F.reverse("embedding"),
                                      lambda x, y: x + F.lit(0.15) * y)
                            .alias("embedding")))
        aug = base.unionByName(planted)
        return embedding_near_dup_pairs(aug, threshold=0.9, num_planes=8,
                                        dim=64, multiprobe=3)

    def dedup_semantic(spark, sf_dir):
        # SemDeDup: cluster-partitioned semantic dedup decision.  Same
        # planted jittered copies as dedup_embedding_cosine; centroids
        # come from the SQL-mirrorable arithmetic slice, so the DuckDB
        # oracle recomputes assignment + within-cluster pairs + the
        # recursive keeper decision end-to-end (no VALUES pin).
        from mc2skos_spark.functions.dedup import semantic_dedup_keepers
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.select("vec_id", F.col("embedding")
                          .cast("array<double>").alias("embedding"))
        planted = (base.filter(F.col("vec_id") < 100)
                   .select((F.col("vec_id") + 100000).alias("vec_id"),
                           F.zip_with("embedding", F.reverse("embedding"),
                                      lambda x, y: x + F.lit(0.15) * y)
                            .alias("embedding")))
        aug = base.unionByName(planted)
        # dim=64: the vectors are fixed-width, so the per-pair dot
        # unrolls to a codegen expression (identical fold order; rows
        # of any other width take the HOF path per row) — results are
        # unchanged, the O(n²/K) scorer stops being interpreted
        return semantic_dedup_keepers(aug, num_centroids=16,
                                      threshold=0.97, centroid_mod=8,
                                      dim=64)

    # --- similarity search
    def sim_cosine_topk(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        query = [float(x) for x in
                 emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk(emb, query, k=10)

    def sim_ann_lsh_topk(spark, sf_dir):
        # ANN scale path: hyperplane-LSH bucket + multi-probe + exact
        # re-rank.  Deterministic (seeded planes) → VALUES oracle;
        # recall-vs-exact is asserted in tests/test_functions.py.
        from mc2skos_spark.functions.similarity import lsh_bucketed_topk
        emb = _t(spark, sf_dir, "embeddings")
        query = [float(x) for x in
                 emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return lsh_bucketed_topk(emb, query, k=10, num_planes=8,
                                 multiprobe=2)

    def sim_ann_ivf_topk(spark, sf_dir):
        # IVF-lite: deterministic sampled centroids, probe the nearest
        # lists, exact re-rank inside them.
        from mc2skos_spark.functions.similarity import ivf_topk
        emb = _t(spark, sf_dir, "embeddings")
        query = [float(x) for x in
                 emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return ivf_topk(emb, query, k=10, num_centroids=16, nprobe=4)

    # --- ANN probe QUALITY as a driver row: recall@10 of both ANN
    #     variants against the brute-force twin, computed relationally
    #     (broadcast semi-join of the two deterministic top-k sets; all
    #     three queries are themselves hash-pinned driver rows, so this
    #     row quantifies the probes without re-deriving them).  VALUES
    #     oracle (the ANN sides hash with the seeded LCG planes /
    #     xxhash centroid sampling DuckDB can't run).
    def sim_ann_recall(spark, sf_dir):
        from mc2skos_spark.functions.similarity import (cosine_topk,
                                                        ivf_topk,
                                                        lsh_bucketed_topk)
        emb = _t(spark, sf_dir, "embeddings")
        query = [float(x) for x in
                 emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        brute = cosine_topk(emb, query, k=10).select("vec_id")
        brute = F.broadcast(brute.localCheckpoint(eager=False))
        out = None
        for method, ann in (
                ("lsh", lsh_bucketed_topk(emb, query, k=10,
                                          num_planes=8, multiprobe=2)),
                ("ivf", ivf_topk(emb, query, k=10, num_centroids=16,
                                 nprobe=4))):
            row = (ann.select("vec_id")
                   .join(brute, "vec_id", "semi")
                   .agg(F.count(F.lit(1)).cast("long").alias("hits"))
                   .select(F.lit(method).alias("method"), "hits",
                           (F.col("hits") / F.lit(10.0))
                           .alias("recall_at_10")))
            out = row if out is None else out.unionByName(row)
        return out

    # --- multimodal plumbing: binary payload column + typed metadata →
    #     Arrow-batch feature extraction (the decode itself is a
    #     deterministic digest stub — codec libs absent — but the
    #     WHOLE Spark path runs: binary Arrow transfer, size-balanced
    #     repartition, mapInPandas).  The payload here is the document
    #     text's UTF-8 bytes so the oracle is plain SQL (octet_length +
    #     sha256 over the same bytes).
    def mm_media_features(spark, sf_dir):
        from mc2skos_spark.functions.multimodal import extract_media_features
        docs = _t(spark, sf_dir, "documents")
        kind = (F.when(F.col("doc_id") % 3 == 0, "image")
                .when(F.col("doc_id") % 3 == 1, "audio")
                .otherwise("video"))
        media = docs.select(
            F.col("doc_id").alias("media_id"), kind.alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
            F.lit(None).cast("int").alias("meta_width"),
            F.lit(None).cast("int").alias("meta_height"),
            F.lit(None).cast("int").alias("meta_duration_ms"))
        return (extract_media_features(media)
                .select("media_id", "kind", "payload_bytes",
                        "content_digest"))

    # --- REAL (stdlib) container decode: valid WAV/PNG/JPEG files are
    #     synthesized DISTRIBUTED (pandas UDF writes RIFF/IHDR/SOF0
    #     bytes from doc_id-derived parameters, no driver collect),
    #     then the header decoders recover the planted parameters —
    #     which the oracle recomputes from doc_id arithmetic without
    #     ever seeing the bytes.  A decoder that misreads any field
    #     hash-fails.
    def mm_media_decode(spark, sf_dir):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from mc2skos_spark.functions.multimodal import (
            extract_media_features, make_jpeg, make_png, make_wav)

        # NB: no pd.Series annotations — the module's `from __future__
        # import annotations` turns them into strings that pyspark's
        # get_type_hints cannot resolve against module globals
        @pandas_udf("binary")
        def synth(mid):
            def one(m):
                m = int(m)
                if m % 3 == 0:
                    return make_wav(8000 + (m % 5) * 1000,
                                    1 + (1 if m % 2 == 0 else 0),
                                    100 + m)
                if m % 3 == 1:
                    return make_png(16 + m, 9 + m % 7)
                return make_jpeg(32 + m, 20 + m % 9,
                                 components=1 + m % 4)
            return mid.map(one)

        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
        media = docs.select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 0, "audio").otherwise("image")
             .alias("kind"),
            synth(F.col("doc_id")).alias("payload"),
            F.lit(None).cast("int").alias("meta_width"),
            F.lit(None).cast("int").alias("meta_height"),
            F.lit(None).cast("int").alias("meta_duration_ms"))
        return (extract_media_features(media)
                .select("media_id", "kind", "decoded_width",
                        "decoded_height", "decoded_bit_depth",
                        "decoded_sample_rate", "decoded_channels",
                        "decoded_duration_ms"))

    # --- sketch aggregates at the driver surface: HLL++ distinct-token
    #     estimate computed NEXT TO its exact twin per source stratum,
    #     reduced to an in-plan error-envelope VERDICT.  The raw sketch
    #     value is engine-specific (no DuckDB twin), so it is dropped
    #     from the projection: the output is (source, exact_distinct,
    #     ok_5pct) and the oracle computes the exact count and pins
    #     ok_5pct = TRUE — HLL++ is deterministic for fixed input +
    #     implementation, so a Spark sketch-impl drift past the 5%
    #     envelope fails the hash compare LOUDLY instead of silently
    #     (tests/test_sketches.py pins the numeric envelope itself).
    #     At 100 TB the sketch is the production path: constant-size
    #     partial states combine map-side vs the exact twin's full
    #     distinct shuffle.
    def sketch_distinct_tokens(spark, sf_dir):
        from mc2skos_spark.functions.textstats import tokens
        docs = _t(spark, sf_dir, "documents")
        toks = docs.select(
            "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        return (toks.groupBy("source")
                .agg(F.count_distinct("token").alias("exact_distinct"),
                     F.approx_count_distinct("token", 0.02)
                      .alias("approx_distinct"))
                .select(
                    "source", "exact_distinct",
                    (F.abs(F.col("approx_distinct")
                           - F.col("exact_distinct"))
                     <= F.col("exact_distinct") * 0.05)
                    .alias("ok_5pct")))

    # --- approx-percentile sketch next to its exact twin, the same
    #     hash-matchable shape as sketch_distinct_tokens: the exact
    #     quartiles (floor-quantized longs) carry the hash, the sketch
    #     carries a rank-error witness the oracle pins TRUE.  The GK
    #     sketch guarantees rank error <= 1/accuracy (1% here), so the
    #     approx median landing inside the exact [p25, p75] band is a
    #     25x-margin invariant, not a tuned threshold.  The sketch is
    #     the 100-TB path: mergeable per-partition state, no global
    #     sort.
    def sketch_token_quantiles(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        per = docs.select(
            "source", token_count(F.col("text")).alias("n_tokens"))
        return (per.groupBy("source")
                .agg(F.percentile("n_tokens", 0.25).alias("e25"),
                     F.percentile("n_tokens", 0.5).alias("e50"),
                     F.percentile("n_tokens", 0.75).alias("e75"),
                     F.percentile_approx("n_tokens", 0.5, 100)
                      .alias("a50"))
                .select("source",
                        F.floor(F.col("e25") * 10000).cast("long")
                        .alias("p25_q"),
                        F.floor(F.col("e50") * 10000).cast("long")
                        .alias("p50_q"),
                        F.floor(F.col("e75") * 10000).cast("long")
                        .alias("p75_q"),
                        ((F.col("a50") >= F.col("e25"))
                         & (F.col("a50") <= F.col("e75")))
                        .alias("ok_rank")))

    # --- text analysis
    def text_tokens(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))

    def text_bpe_tokens(spark, sf_dir):
        from mc2skos_spark.functions.textstats import bpe_ish_token_count
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id",
                           bpe_ish_token_count(F.col("text")).alias("n_bpe"))

    def text_quality(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id",
                           quality_score(F.col("text")).alias("quality"))

    def text_langid(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents", widen=True)
        return docs.select("doc_id",
                           langid_guess(F.col("text")).alias("lang_guess"))

    def text_repetition(spark, sf_dir):
        # one tokenization for both signals (round 7): struct-then-star
        # like text_gopher_gate — WSCG subexpression elimination
        # evaluates the shared struct once across the expanded columns;
        # the per-column form re-lowered + re-split the text per signal
        from mc2skos_spark.functions.textstats import repetition_profile
        docs = _t(spark, sf_dir, "documents", widen=True)
        return (docs.select(
            "doc_id", repetition_profile(F.col("text")).alias("g"))
            .select("doc_id", "g.dup_token_frac", "g.top_bigram_frac"))

    def contamination_ngram(spark, sf_dir):
        from mc2skos_spark.functions.contamination import \
            benchmark_contamination
        docs = _t(spark, sf_dir, "documents", widen=True)
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        train = docs.filter(F.col("doc_id") % 50 != 0)
        return benchmark_contamination(train, bench, n=5, min_hits=2)

    def text_pii_scrub(spark, sf_dir):
        # PII audit + redaction.  The synthetic corpus is PII-free, so
        # the query plants deterministic spans (email / ipv4 / phone)
        # into every 7th doc; the oracle mirrors the plant and the
        # whole scrub chain in RE2.
        from mc2skos_spark.functions.pii import pii_profile
        docs = _t(spark, sf_dir, "documents", widen=True)
        pii = F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
        seeded = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, pii)
             .otherwise(F.col("text")).alias("text"))
        return pii_profile(seeded)

    def sample_stratified(spark, sf_dir):
        # deterministic corpus mixing: per-language keep rates decided
        # by a pure hash of the row id — reproducible across re-runs,
        # resumes and repartitions, and exactly mirrorable in SQL
        from mc2skos_spark.functions.sampling import stratified_sample
        docs = _t(spark, sf_dir, "documents")
        return stratified_sample(docs, "lang",
                                 {"en": 0.5, "es": 0.25},
                                 default_rate=0.05) \
            .select("doc_id", "lang")

    def sample_mixture(spark, sf_dir):
        # temperature-scaled corpus mixing (alpha = 0.5 multilingual
        # sampling): per-language keep rates derived from sqrt-scaled
        # token shares under a 50%-of-corpus token budget — scarce
        # languages upsampled, dominant ones cut.  Rates broadcast-join
        # back; the keep decision is the same pure id-hash as
        # sample_stratified, so the oracle verifies the EXACT rows.
        from mc2skos_spark.functions.sampling import \
            mixture_weighted_sample
        docs = _t(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", "lang", token_count(F.col("text")).alias("n_tokens"))
        return (mixture_weighted_sample(toks, "lang", budget_frac=0.5)
                .select("doc_id", "lang", "n_tokens"))

    def text_url_domains(spark, sf_dir):
        # C4-style per-domain corpus stats.  The synthetic corpus has
        # no URLs, so the query plants deterministic ones in every 5th
        # doc (20 rotating site domains + one shared CDN domain).
        from mc2skos_spark.functions.urls import domain_doc_counts
        docs = _t(spark, sf_dir, "documents")
        seeded = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" see https://site"),
                            F.expr("(doc_id div 5) % 20").cast("string"),
                            F.lit(".example.org/p"),
                            F.col("doc_id").cast("string"),
                            F.lit(" and http://cdn.example.net/x")))
             .otherwise(F.col("text")).alias("text"))
        return domain_doc_counts(seeded)

    def bpe_pair_stats(spark, sf_dir):
        # distributed BPE vocabulary induction, round-1 statistics:
        # corpus → word-frequency table (the only corpus-scale stage)
        # → adjacent character-pair counts → deterministic top-20.
        # The multi-round merge trainer is pytest-verified against a
        # pure-Python reference (tests/test_functions.py).
        from mc2skos_spark.functions.bpe import bpe_pair_stats as stats
        docs = _t(spark, sf_dir, "documents")
        return stats(docs, top_k=20)

    def pack_sequences(spark, sf_dir):
        # sequence packing: distributed exclusive prefix sum of token
        # counts in doc_id order → fixed-capacity sequence assignment
        # (512-token sequences); never a single-partition window
        from mc2skos_spark.functions.packing import \
            pack_sequences as pack
        docs = _t(spark, sf_dir, "documents")
        with_tokens = docs.select(
            "doc_id", token_count(F.col("text")).alias("n_tokens"))
        return (pack(with_tokens, capacity=512)
                .select("doc_id", "n_tokens", "start_offset", "seq_id"))

    def chunk_sliding(spark, sf_dir):
        # sliding-window chunking: 64-token windows advancing by 48
        # (overlapping context windows for long documents) — a pure
        # projection + explode, zero shuffle; token array bound once
        from mc2skos_spark.functions.packing import chunk_documents
        docs = _t(spark, sf_dir, "documents")
        return chunk_documents(docs, max_len=64, stride=48)

    def corpus_token_stats(spark, sf_dir):
        # per-language corpus length distribution: count / mean /
        # exact interpolated median + p90 of token counts — the
        # percentile aggregate family (exact F.percentile, not the
        # sketch-based approx, so DuckDB's quantile_cont matches
        # bit-for-bit after floor truncation)
        docs = _t(spark, sf_dir, "documents")
        toks = docs.select("lang",
                           token_count(F.col("text")).alias("n_tokens"))
        def fl(c):
            return (F.floor(c * 100).cast("double") / 100)
        return (toks.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     fl(F.avg("n_tokens")).alias("mean_tokens"),
                     fl(F.percentile("n_tokens", F.lit(0.5)))
                     .alias("median_tokens"),
                     fl(F.percentile("n_tokens", F.lit(0.9)))
                     .alias("p90_tokens")))

    def curation_e2e(spark, sf_dir):
        # the batch curation pipeline end-to-end (jobs/curate.py order,
        # minus the xxhash near-dup stage): profile+gate → exact dedup
        # (min-id keeper) → deterministic stratified sample → sequence
        # packing — one driver row hash-verifying the STAGE COMPOSITION,
        # not just each stage alone
        from mc2skos_spark.functions.packing import \
            pack_sequences as pack
        from mc2skos_spark.functions.sampling import stratified_sample
        from mc2skos_spark.functions.textstats import profile_and_gate
        docs = _t(spark, sf_dir, "documents", widen=True)
        kept = profile_and_gate(docs, min_quality=0.1,
                                max_top_bigram=0.5)
        # kept feeds BOTH the digest aggregate and the keeper join —
        # cut the lineage so the profile pass runs once, not twice
        kept = kept.localCheckpoint(eager=False)
        # digest grouping: shuffle 32 bytes/doc, not the document
        # (identical keepers; oracle keeps GROUP BY text)
        exact = (kept.groupBy(F.sha2(F.col("text"), 256))
                 .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
        kept = kept.join(exact, "doc_id")
        kept = stratified_sample(kept, "lang_guess",
                                 {"en": 0.6, "es": 0.3},
                                 default_rate=0.1)
        return (pack(kept.select("doc_id", "lang_guess", "n_tokens"),
                     capacity=256)
                .select("doc_id", "lang_guess", "n_tokens",
                        "start_offset", "seq_id"))

    def ret_bm25_topk(spark, sf_dir):
        # BM25 keyword retrieval: term-filtered token explode (shuffle
        # is O(query hits), not O(corpus)), broadcast df/stats joins,
        # TakeOrdered top-k; per-term contributions integerized before
        # the group-sum so the score is summation-order-independent
        from mc2skos_spark.functions.retrieval import bm25_topk
        docs = _t(spark, sf_dir, "documents")
        return bm25_topk(docs, ["spark", "join", "window", "stream"],
                         k=10)

    def dedup_substring_spans(spark, sf_dir):
        # exact repeated-substring dedup (Lee et al. 2022, shuffle-
        # native): 8-token windows keyed by xxhash64, duplicate keys
        # (>=2 distinct docs) equi-joined back, per-doc islands merge;
        # the oracle keys on the window TEXT, cross-checking the
        # hash-key shortcut
        from mc2skos_spark.functions.dedup import repeated_substring_spans
        docs = _t(spark, sf_dir, "documents", widen=True)
        return repeated_substring_spans(docs, window=8, min_docs=2)

    def text_fingerprint(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id",
                           fingerprint(F.col("text")).alias("fp"))

    def text_rolling_fingerprint(spark, sf_dir):
        from mc2skos_spark.functions.textstats import rolling_fingerprint
        docs = _t(spark, sf_dir, "documents")
        return docs.select("doc_id",
                           rolling_fingerprint(F.col("text")).alias("rfp"))

    # --- graph analytics: fixed-point PageRank over a doc-id DAG
    #     (each doc links to doc//2 and doc//3, a multigraph with
    #     out-degree 2 and two dangling roots).  Ranks are exact
    #     10^12-scaled integers, so the 3-round unrolled SQL oracle
    #     matches bit-for-bit regardless of shuffle order — see
    #     operators/graph.py for the integer-determinism argument.
    def graph_pagerank(spark, sf_dir):
        from mc2skos_spark.operators.graph import pagerank
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 2)
        half = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            F.shiftright(F.col("doc_id").cast("long"), 1).alias("dst"))
        third = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            F.expr("cast(doc_id as long) div 3").alias("dst"))
        ranks = pagerank(half.unionByName(third), iterations=3)
        return ranks.select("node", "rank_scaled")

    # --- mass-conserving variant: the two dangling roots' damped rank
    #     is redistributed uniformly each round (one extra 1-row
    #     broadcast aggregate), still integer-exact — the oracle
    #     unrolls the same redistributed iteration.
    def graph_pagerank_dangling(spark, sf_dir):
        from mc2skos_spark.operators.graph import pagerank
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 2)
        half = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            F.shiftright(F.col("doc_id").cast("long"), 1).alias("dst"))
        third = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            F.expr("cast(doc_id as long) div 3").alias("dst"))
        ranks = pagerank(half.unionByName(third), iterations=3,
                         redistribute_dangling=True)
        return ranks.select("node", "rank_scaled")

    # --- gap-based sessionization over the events clickstream: one
    #     exchange on user_id, per-user lag -> flag -> running sum, then
    #     a per-session rollup.  Timestamps leave the query as exact
    #     epoch microseconds (unix_micros == DuckDB epoch_us), TZ-proof.
    def sess_gap_stats(spark, sf_dir):
        from mc2skos_spark.operators.sessionize import (event_micros,
                                                        session_stats)
        events = _t(spark, sf_dir, "events")
        stats = session_stats(events, gap_seconds=3600)
        return stats.select(
            "user_id", "session_id",
            event_micros("session_start").alias("start_us"),
            event_micros("session_end").alias("end_us"),
            "n_events", "duration_us")

    # --- the SAME sessionization computed by Spark's native
    #     session_window (streaming/sessions.py): batch/stream
    #     agnostic, so the driver gate runs the real streaming
    #     transformation over the batch events table.  The exact-gap
    #     boundary merges in both forms (empirically verified), so the
    #     oracle is the gap SQL with end = last + gap.  unix_micros on
    #     the LTZ window bounds is TZ-proof (instants, not wall time).
    # --- BPE ENCODING at corpus scale with a fixed merge table:
    #     token-frequency histogram of the encoded corpus.  Spark
    #     encodes only the DISTINCT-WORD table (Heaps' law) through
    #     one Arrow-batched pandas UDF; the oracle is an independent
    #     SQL formulation — greedy leftmost non-overlapping pair-merge
    #     == chained replace() over bracket-delimited symbols
    #     ('<a><b>' → '<ab>'; brackets are outside the corpus
    #     alphabet, and adjacent matches share no characters so
    #     replace()'s leftmost scan is exactly the BPE fold).
    def bpe_encode_counts(spark, sf_dir):
        from mc2skos_spark.functions.bpe import encode_token_counts
        merges = [("e", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
                  ("t", "o"), ("a", "t"), ("in", "g"), ("er", "s")]
        docs = _t(spark, sf_dir, "documents", widen=True)
        return encode_token_counts(docs, merges)

    # --- CCNet-style LM quality scores: per-doc negative log-
    #     likelihood under a self-trained add-1 unigram LM.  Only the
    #     per-doc DISTINCT-token tf table shuffles (Heaps' law); the
    #     vocabulary-sized logp table equi-joins back (AQE broadcasts
    #     it); per-token logps are 1e-4-quantized and summed as LONGS
    #     so the score is summation-order-independent (the BM25
    #     discipline).
    def text_lm_nll(spark, sf_dir):
        from mc2skos_spark.functions.lm import lm_nll_scores
        docs = _t(spark, sf_dir, "documents", widen=True)
        return lm_nll_scores(docs)

    # --- EXTERNAL-LM scoring (the production CCNet shape): the LM is
    #     trained on the lang='en' slice only and every document is
    #     scored against it — non-en docs hit the OOV fallback
    #     (left-join + coalesce to the add-1 floor), putting the
    #     cross-corpus path itself under the driver hash gate.
    def text_lm_nll_xlm(spark, sf_dir):
        from mc2skos_spark.functions.lm import lm_nll_scores, unigram_lm
        docs = _t(spark, sf_dir, "documents", widen=True)
        lm = unigram_lm(docs.filter(F.col("lang") == "en"))
        return lm_nll_scores(docs, lm=lm)

    # --- interpolated BIGRAM LM NLL (the conditional-model step
    #     toward CCNet's KenLM): same Heaps'-law shape one order up —
    #     only the distinct-transition table shuffles; the bigram-vocab
    #     logp table is two unigram joins + one equi-join back; the
    #     interpolated probability is the same literal expression tree
    #     in both engines, logps quantized and summed as longs.
    def text_lm2_nll(spark, sf_dir):
        from mc2skos_spark.functions.lm import bigram_nll_scores
        docs = _t(spark, sf_dir, "documents", widen=True)
        return bigram_nll_scores(docs)

    # --- trigram member of the same family (the induction step toward
    #     CCNet's 5-gram KenLM): interpolated
    #     0.5·trigram + 0.25·bigram-continuation + 0.25·unigram, all
    #     add-1 smoothed; same Heaps-table scale shape one order up and
    #     the same literal-expression-parity bet with the oracle.
    def text_lm3_nll(spark, sf_dir):
        from mc2skos_spark.functions.lm import trigram_nll_scores
        docs = _t(spark, sf_dir, "documents", widen=True)
        return trigram_nll_scores(docs)

    # --- order-5 member from the SAME parameterized builder — CCNet's
    #     actual KenLM order (Wenzek et al. 2020).  Weights halve per
    #     order (0.5/0.25/0.125/0.0625 + 0.0625 unigram remainder, all
    #     exactly-representable doubles), so the interpolated
    #     probability is the identical literal expression tree in both
    #     engines; logps 1e-4-quantized and summed as longs.  Scale
    #     shape unchanged from the lower orders: per-doc distinct
    #     5-gram Heaps table is the only corpus-scale shuffle, the
    #     c5..c1 vocab tables equi-join back (2(n−1) joins, AQE
    #     broadcasts the small sides).
    def text_lm5_nll(spark, sf_dir):
        from mc2skos_spark.functions.lm import ngram_nll_scores
        docs = _t(spark, sf_dir, "documents", widen=True)
        out = ngram_nll_scores(docs, 5)
        return out.select(
            "doc_id",
            F.col("n_transitions").alias("n_transitions5"),
            F.col("nll_q").alias("nll5_q"),
            F.col("avg_nll").alias("avg_nll5"))

    # --- CCNet's head/middle/tail perplexity split: per-language
    #     thirds of the order-2 LM score, integer-exact cutoffs from
    #     the (lang, score) histogram — no float percentile in either
    #     engine (functions/lm.py:perplexity_buckets).
    def text_ccnet_buckets(spark, sf_dir):
        from mc2skos_spark.functions.lm import perplexity_buckets
        docs = _t(spark, sf_dir, "documents", widen=True)
        return perplexity_buckets(docs, order=2)

    # --- MassiveText repeated-passage removal: 8-token paragraphs,
    #     first occurrence wins, documents rebuilt from survivors.
    #     Duplicates are planted (doc_id+100000 copies of docs < 20)
    #     so the keeper election is exercised, not vacuous.
    def text_paragraph_dedup(spark, sf_dir):
        from mc2skos_spark.functions.dedup import paragraph_dedup
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        planted = (docs.filter(F.col("doc_id") < 20)
                   .select((F.col("doc_id") + 100000).alias("doc_id"),
                           "text"))
        return paragraph_dedup(docs.unionByName(planted),
                               para_tokens=8)

    # --- SPARQL-core BGP matching over a materialized (subj, pred,
    #     obj) triple table (operators/bgp.py): constants push down to
    #     the scans, shared variables become equi-joins.  The triple
    #     table here is minted relationally from TPC-H (customer
    #     memberOf nation broader region + labels) so DuckDB can
    #     replicate it; the same operator queries the KG pipeline's
    #     extracted triples in tests/test_bgp.py.
    def kg_bgp_match(spark, sf_dir):
        from mc2skos_spark.operators.bgp import bgp_match
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        r_uri = F.concat(F.lit("r:"), F.col("r_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    r_uri.alias("obj"))
            .unionByName(region.select(
                r_uri.alias("subj"), F.lit("prefLabel").alias("pred"),
                F.col("r_name").alias("obj")))
            .unionByName(nation.select(
                n_uri.alias("subj"), F.lit("prefLabel").alias("pred"),
                F.col("n_name").alias("obj")))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        return bgp_match(triples, [("?m", "memberOf", "?n"),
                                   ("?n", "broader", "?r"),
                                   ("?r", "prefLabel", "?label")])

    # --- SPARQL 1.1 property paths (operators/bgp.py Path
    #     combinators): memberOf/broader+ reaches EVERY ancestor
    #     (nation→region→ROOT) through the iterative-doubling closure,
    #     the label is an OPTIONAL group (ROOT has none — left-join
    #     nulls survive, per SPARQL's leftjoin algebra).  DuckDB's
    #     recursive CTE is the independent closure oracle.
    def kg_path_match(spark, sf_dir):
        from mc2skos_spark.operators.bgp import bgp_match, plus, seq
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        r_uri = F.concat(F.lit("r:"), F.col("r_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    r_uri.alias("obj"))
            .unionByName(region.select(
                r_uri.alias("subj"), F.lit("broader").alias("pred"),
                F.lit("r:ROOT").alias("obj")))
            .unionByName(region.select(
                r_uri.alias("subj"), F.lit("prefLabel").alias("pred"),
                F.col("r_name").alias("obj")))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        return bgp_match(
            triples,
            [("?c", seq("memberOf", plus("broader")), "?a")],
            optional=[[("?a", "prefLabel", "?label")]])

    # --- SPARQL 1.1 SELECT algebra (operators/bgp.py select_query):
    #     the spec's stage order — BGP → FILTER → Group/Aggregate →
    #     HAVING — compiled to filter/hash-aggregate over the binding
    #     relation.  COUNT(member) + COUNT(DISTINCT nation) + SAMPLE
    #     per region, non-EUROPE only, regions with ≥2 nations.  The
    #     aggregate is one partial-combine shuffle over group keys;
    #     the FILTER pushes down through the joins to the prefLabel
    #     scan.
    def kg_sparql_agg(spark, sf_dir):
        from mc2skos_spark.operators.bgp import select_query
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        r_uri = F.concat(F.lit("r:"), F.col("r_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    r_uri.alias("obj"))
            .unionByName(region.select(
                r_uri.alias("subj"), F.lit("prefLabel").alias("pred"),
                F.col("r_name").alias("obj")))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        return select_query(
            triples,
            [("?m", "memberOf", "?n"),
             ("?n", "broader", "?r"),
             ("?r", "prefLabel", "?label")],
            filter="label != 'EUROPE'",
            group_by=["r", "label"],
            aggregates={"n_members": ("count", None),
                        "n_nations": ("count_distinct", "n"),
                        "first_nation": ("sample", "n")},
            having="n_nations >= 2")

    # --- SPARQL negation (FILTER NOT EXISTS = left-anti on shared
    #     vars): members per nation, nations OUTSIDE r:EUROPE only.
    #     The anti join probes the tiny broader edge set — at 100 TB
    #     the filtered probe side broadcasts and the member scan never
    #     shuffles.
    def kg_sparql_negation(spark, sf_dir):
        from mc2skos_spark.operators.bgp import select_query
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    F.concat(F.lit("r:"), F.col("r_name")).alias("obj"))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        return select_query(
            triples,
            [("?m", "memberOf", "?n")],
            not_exists=([("?n", "broader", "r:EUROPE")],),
            group_by=["n"],
            aggregates={"n_members": ("count", None)})

    # --- SPARQL CONSTRUCT as rule materialization (operators/bgp.py
    #     construct_query): one WHERE evaluation instantiates N
    #     template triples per solution → union → hash-distinct on
    #     (subj, pred, obj) — the relational form of a forward-chained
    #     inference step (expand.py's SKOS inverses are the hand-built
    #     case).  Template: every member gets an inRegion edge and
    #     every nation a narrower_member edge.
    def kg_construct_rule(spark, sf_dir):
        from mc2skos_spark.operators.bgp import construct_query
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    F.concat(F.lit("r:"), F.col("r_name")).alias("obj"))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        return construct_query(
            triples,
            [("?n", "narrower_member", "?m"), ("?m", "inRegion", "?r")],
            [("?m", "memberOf", "?n"), ("?n", "broader", "?r")])

    # --- Forward-chaining rule FIXPOINT (materialize_rules): seed
    #     rules copy memberOf/broader into a shared inT predicate, a
    #     self-recursive transitivity rule closes it (doubling rounds),
    #     an inverse rule derives narrower — the datalog shape of SKOS
    #     inference, run to convergence with per-round delta
    #     anti-joins.  The oracle re-derives the closed graph with
    #     explicit unions (the hierarchy is depth-2, so the closure is
    #     enumerable without recursion).
    def kg_rules_fixpoint(spark, sf_dir):
        from mc2skos_spark.operators.bgp import materialize_rules
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        n_uri = F.concat(F.lit("n:"), F.col("n_name"))
        triples = (
            nation.join(region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
            .select(n_uri.alias("subj"), F.lit("broader").alias("pred"),
                    F.concat(F.lit("r:"), F.col("r_name")).alias("obj"))
            .unionByName(
                customer.join(
                    nation,
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select(F.concat(F.lit("c:"),
                                 F.col("c_custkey").cast("string"))
                        .alias("subj"),
                        F.lit("memberOf").alias("pred"),
                        n_uri.alias("obj"))))
        rules = [
            ([("?a", "inT", "?b")], [("?a", "memberOf", "?b")]),
            ([("?a", "inT", "?b")], [("?a", "broader", "?b")]),
            ([("?a", "inT", "?c")],
             [("?a", "inT", "?b"), ("?b", "inT", "?c")]),
            ([("?b", "narrower", "?a")], [("?a", "broader", "?b")]),
        ]
        return materialize_rules(triples, rules)

    # --- Icebergish snapshot log + incremental read, end-to-end:
    #     write → append ×2 → compact (replace) → append over a
    #     documents slice, then emit history() decorated with each
    #     append's read_changes row count (the O(delta) incremental
    #     scan).  Everything here is METADATA-scale — the history rows
    #     ARE the manifest log, and the per-append delta is one count
    #     over just the appended dirs.  The DuckDB oracle re-derives
    #     every row_count from the documents table without ever seeing
    #     the warehouse.
    def catalog_changelog(spark, sf_dir):
        import shutil
        import tempfile
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        wh = tempfile.mkdtemp(prefix="mc2skos_tt_")
        try:
            cat = IcebergishCatalog(wh, spark)
            cat.write("docs", docs.filter(F.col("doc_id") < 300),
                      lineage_key="doc_id")
            cat.append("docs", docs.filter((F.col("doc_id") >= 300)
                                           & (F.col("doc_id") < 400)),
                       lineage_key="doc_id")
            cat.append("docs", docs.filter((F.col("doc_id") >= 400)
                                           & (F.col("doc_id") < 500)),
                       lineage_key="doc_id")
            cat.compact("docs", target_files=1, lineage_key="doc_id")
            cat.append("docs", docs.filter((F.col("doc_id") >= 500)
                                           & (F.col("doc_id") < 520)),
                       lineage_key="doc_id")
            hist = cat.history("docs").drop("committed_at").collect()
            rows = [(r["snapshot_id"], r["operation"], r["row_count"],
                     r["n_data_dirs"],
                     cat.read_changes("docs", r["snapshot_id"] - 1,
                                      r["snapshot_id"]).count()
                     if r["operation"] == "append" else None)
                    for r in hist]
            return spark.createDataFrame(
                rows, "snapshot_id int, operation string,"
                      " row_count long, n_data_dirs int,"
                      " delta_rows long")
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    # --- Manifest zone maps (Iceberg manifest-entry min/max pruning):
    #     a doc_id-range-clustered write records per-file min/max; a
    #     read_where range scan opens ONLY the overlapping files (the
    #     skip is asserted in-row: ok_pruned = files_scanned <
    #     files_total) and the rows it yields hash-match a plain SQL
    #     BETWEEN over the source table — stats decide which files to
    #     OPEN, the residual filter decides which rows QUALIFY, so the
    #     data answer is layout-independent.  At 100 TB this metadata
    #     pass is the difference between opening every parquet footer
    #     and opening ~range/domain of them.
    def catalog_pruned_scan(spark, sf_dir):
        import shutil
        import tempfile
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        wh = tempfile.mkdtemp(prefix="mc2skos_zm_")
        try:
            cat = IcebergishCatalog(wh, spark)
            cat.write("docs", docs, lineage_key="doc_id",
                      stats_columns=["doc_id"], cluster_by=["doc_id"],
                      num_files=8)
            kept, total = cat.pruned_files("docs",
                                           {"doc_id": (100, 299)})
            out = (cat.read_where("docs", {"doc_id": (100, 299)})
                   .groupBy("lang")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.min("doc_id").alias("min_id"),
                        F.max("doc_id").alias("max_id"),
                        F.sum("n_chars").alias("chars"))
                   .withColumn("ok_pruned",
                               F.lit(len(kept) < total)))
            # collect before the temp warehouse vanishes
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    # --- Gopher quality-rule bundle (Rae et al. 2021 appendix A1.1):
    #     all 7 MassiveText heuristic filters as ONE codegen struct —
    #     per-rule booleans + the conjunction, every ratio threshold
    #     an INTEGER cross-multiplication (10·symbols ≤ words, never
    #     symbols/words ≤ 0.1) so the DuckDB oracle's booleans are
    #     bit-identical.  One pass, no shuffle, no Python.
    def text_gopher_gate(spark, sf_dir):
        from mc2skos_spark.functions.textstats import (
            gopher_quality_flags)
        docs = _t(spark, sf_dir, "documents", widen=True)
        # struct-then-star, NOT inline: whole-stage codegen's
        # subexpression elimination already evaluates the shared
        # rule subtrees once across the expanded columns (measured
        # 0.28s vs 0.60s for the Generate form at 10x sf0.1 — the
        # Generate boundary costs more than the CSE saves here)
        return (docs.select(
            "doc_id",
            gopher_quality_flags(F.col("text")).alias("g"))
            .select("doc_id", "g.*"))

    # --- DSIR importance weights (Xie et al. 2023): hashed {1,2}-gram
    #     bucket counts (md5 first byte — engine-portable), target =
    #     the lang='en' slice, raw = the whole pool; per-bucket
    #     log-ratios 1e-4-quantized and combined as LONGS so the
    #     per-doc weight is an exact integer.  One corpus scan; the
    #     only shuffle is the (doc, bucket, cnt) table (≤256 rows/doc);
    #     the 256-row ratio table broadcasts back.
    def dsir_en_weights(spark, sf_dir):
        from mc2skos_spark.functions.dsir import dsir_logweights
        docs = _t(spark, sf_dir, "documents", widen=True)
        return dsir_logweights(docs, F.col("lang") == "en")

    # --- fastText-style quality-classifier gate: model scoring as a
    #     broadcast join — hashed {1,2}-gram bucket counts equi-join a
    #     256-row quantized weight table; the decision statistic is
    #     the exact integer logit (sigmoid is monotone, so no exp()
    #     parity bet).  Weights here are a fixed arithmetic function
    #     of the bucket id so the oracle recomputes them inline; the
    #     MLlib-trained path produces the same table shape
    #     (pytest-verified train → quantize → relational-score loop).
    def quality_classifier_scores(spark, sf_dir):
        from mc2skos_spark.functions.classifier import linear_text_scores
        docs = _t(spark, sf_dir, "documents", widen=True)
        weights = {b: (b % 17) - 8 for b in range(256)}
        return linear_text_scores(docs, weights, bias_q=3)

    # --- pivot: long → wide with a PINNED value list — no extra
    #     distinct-values job.  Spark plans two phases: pre-aggregate
    #     by (source, lang) then pivot-aggregate by source; the
    #     pre-agg collapses rows map-side BEFORE the pivot, which is
    #     the skew-safe order at scale.  Semantically == the
    #     conditional-count aggregate the oracle spells out by hand.
    def pivot_lang_matrix(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        langs = ["de", "en", "es", "fr", "zh"]
        wide = (docs.groupBy("source")
                .pivot("lang", langs)
                .agg(F.count(F.lit(1)))
                .na.fill(0))
        return wide.select(
            "source",
            *[F.col(lang).alias(f"n_{lang}") for lang in langs])

    # --- unpivot (melt): wide → long without any shuffle at all —
    #     a per-row Expand, partition-preserving, the inverse of pivot.
    def unpivot_doc_metrics(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        wide = docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.length("text").cast("long").alias("text_len"))
        return wide.unpivot("doc_id", ["n_chars", "text_len"],
                            "metric", "value")

    # --- per-node triangle counts over a deterministic doc graph
    #     (u→u div 2 "half" edges + u→u-1 "pred" edges: every odd u
    #     closes the triangle {u, u-1, u div 2}).  The Spark side uses
    #     degree orientation (wedges generated at low-degree apexes —
    #     hot hubs have out-degree ~0 after orientation); the oracle
    #     uses plain id-ordered triple joins — the triangle SET is
    #     orientation-independent, which is exactly what this verifies.
    def graph_triangles(spark, sf_dir):
        from mc2skos_spark.operators.graph import triangle_counts
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 2)
        half = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            F.expr("cast(doc_id as long) div 2").alias("dst"))
        pred = docs.select(
            F.col("doc_id").cast("long").alias("src"),
            (F.col("doc_id").cast("long") - 1).alias("dst"))
        return triangle_counts(half.unionByName(pred))

    # --- CDC apply, snapshot form: events as a keyed change stream
    #     (seq = (ts, event_id)); the latest change wins, keys whose
    #     latest change is an 'error' are deleted.  One max_by hash
    #     aggregate — partial combine map-side, no window sort.
    # --- change compression: drop per-key consecutive no-op images
    #     (same event_type as the previous change) BEFORE any CDC
    #     apply — one key exchange + lag window, null-safe struct
    #     compare, first change per key always survives.
    def cdc_compress_changes(spark, sf_dir):
        from mc2skos_spark.operators.cdc import compress_changes
        from mc2skos_spark.operators.sessionize import event_micros
        events = _t(spark, sf_dir, "events") \
            .select("user_id", "event_id", "ts", "event_type")
        out = compress_changes(events, ["user_id"],
                               ["ts", "event_id"], ["event_type"])
        return out.select("user_id", "event_id",
                          event_micros("ts").alias("ts_us"),
                          "event_type")

    def cdc_latest_state(spark, sf_dir):
        from mc2skos_spark.operators.cdc import latest_snapshot
        from mc2skos_spark.operators.sessionize import event_micros
        events = _t(spark, sf_dir, "events") \
            .select("user_id", "event_id", "ts", "event_type")
        snap = latest_snapshot(events, ["user_id"],
                               ["ts", "event_id"],
                               delete_when=F.col("event_type") == "error")
        return snap.select("user_id", "event_id",
                           event_micros("ts").alias("ts_us"),
                           "event_type")

    # --- CDC apply, SCD2 form: purchase history becomes validity
    #     intervals (valid_to = next purchase per user, null =
    #     current).  Point-in-time lookups against this table are
    #     asof_join on valid_from (pytest-verified composition).
    def cdc_scd2_versions(spark, sf_dir):
        from mc2skos_spark.operators.cdc import scd2_history
        from mc2skos_spark.operators.sessionize import event_micros
        p = (_t(spark, sf_dir, "events")
             .filter(F.col("event_type") == "purchase")
             .select("user_id", "event_id", "ts"))
        hist = scd2_history(p, ["user_id"], "ts",
                            tiebreak_cols=["event_id"])
        return hist.select(
            "user_id", F.col("event_id").alias("p_event_id"),
            event_micros("valid_from").alias("valid_from_us"),
            event_micros("valid_to").alias("valid_to_us"),
            "is_current")

    # --- as-of join: attach the most recent prior purchase to every
    #     event per user (union+window trick — one exchange, no
    #     inequality join; DuckDB's native ASOF JOIN is the
    #     independent oracle).  Right-side (user, ts) ties are
    #     pre-reduced to max(event_id) in BOTH engines so the match
    #     is unique; a 1-hour column applies the lag cut to the
    #     same row.
    def aj_purchase_asof(spark, sf_dir):
        from mc2skos_spark.operators.sessionize import event_micros
        from mc2skos_spark.operators.temporal import asof_join
        events = _t(spark, sf_dir, "events")
        purchases = (events.filter(F.col("event_type") == "purchase")
                     .groupBy("user_id", "ts")
                     .agg(F.max("event_id").alias("p_event_id")))
        joined = asof_join(
            events.select("event_id", "user_id", "ts"), purchases,
            on=["user_id"], left_ts="ts", right_ts="ts",
            value_cols=["p_event_id"])
        lag = event_micros("ts") - event_micros("matched_ts")
        return joined.select(
            "event_id", "user_id",
            event_micros("ts").alias("ts_us"),
            "p_event_id",
            event_micros("matched_ts").alias("p_ts_us"),
            lag.alias("lag_us"),
            F.when(lag <= 3600 * 1_000_000, F.col("p_event_id"))
             .alias("p_event_id_1h"))

    # --- interval-overlap join: concurrent 30-minute activity
    #     windows per event_type.  All windows share one length, so
    #     this is the fixed-band self-join special case: probe side
    #     keyed by its single start bucket (no explode), anchor side
    #     exploded into the only two buckets a later-starting partner
    #     can begin in, each unordered pair enumerated exactly once in
    #     (start, id) order — half the candidate pairs of the generic
    #     both-orientations interval_join, and no width-suggestion
    #     pre-pass (the band IS the bucket width); never an all-pairs
    #     nested loop.  The oracle IS the naive inequality join, fine
    #     at oracle scale.
    def rj_event_overlap(spark, sf_dir):
        from mc2skos_spark.operators.sessionize import event_micros
        from mc2skos_spark.operators.temporal import fixed_band_self_pairs
        half_hour = 1_800_000_000
        events = _t(spark, sf_dir, "events")
        base = events.select(
            "event_type", F.col("event_id").alias("eid"),
            event_micros("ts").alias("s"))
        return fixed_band_self_pairs(base, on=["event_type"],
                                     id_col="eid", start_col="s",
                                     band=half_hour)

    # --- Watermarked stream-stream interval join (streaming/joins.py),
    #     batch-expressed like sess_window_native: each click joined to
    #     the same user's errors within the following 10 minutes.  The
    #     IDENTICAL transformation runs on unbounded streams with
    #     state bounded by within+delay (tests/test_streaming_joins.py
    #     pins stream==batch and outer-row exactly-once eviction);
    #     DuckDB verifies the interval semantics including both
    #     inclusive boundaries.
    def st_interval_join(spark, sf_dir):
        from mc2skos_spark.streaming.joins import stream_interval_join
        events = _t(spark, sf_dir, "events")
        pairs = stream_interval_join(
            events.filter(F.col("event_type") == "click"),
            events.filter(F.col("event_type") == "error"),
            within="10 minutes")
        return pairs.select(
            "user_id",
            F.col("l_event_id").alias("action_id"),
            F.col("r_event_id").alias("outcome_id"))

    def sess_window_native(spark, sf_dir):
        from mc2skos_spark.streaming.sessions import (
            streaming_session_stats)
        events = _t(spark, sf_dir, "events")
        s = streaming_session_stats(events, gap="1 hour")
        return s.select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end_gap").alias("end_gap_us"),
            "n_events")

    return {
        "s1_reassembly": s1_reassembly,
        "p1_leader_dispatch": p1_leader_dispatch,
        "p3_publish_filter": p3_publish_filter,
        "t1_precedence_coalesce": t1_precedence_coalesce,
        "t2_date_decode": t2_date_decode,
        "t5_flag_decode": t5_flag_decode,
        "t7_uri_mint": t7_uri_mint,
        "t8_broadcast_scheme_join": t8_broadcast_scheme_join,
        "p7_quarantine_antijoin": p7_quarantine_antijoin,
        "t9_stringify_fold": t9_stringify_fold,
        "u1_triple_fanout": u1_triple_fanout,
        "g1_dedup_set": g1_dedup_set,
        "g2_inverse_expand": g2_inverse_expand,
        "g4_ordered_sink_key": g4_ordered_sink_key,
        "w1_window_rank": w1_window_rank,
        "cc_region_cliques": cc_region_cliques,
        "kg_golden_triples": kg_golden_triples,
        "s4_turtle_blocks": s4_turtle_blocks,
        "s5_jskos_docs": s5_jskos_docs,
        "st_completeness_gate": st_completeness_gate,
        "st_turn_rate_metrics": st_turn_rate_metrics,
        "g3_label_conflicts": g3_label_conflicts,
        "el_label_links": el_label_links,
        "tc_cycle_detect": tc_cycle_detect,
        "tc_transitive_closure": tc_transitive_closure,
        "p4_array_projection": p4_array_projection,
        "b1_rollup": b1_rollup,
        "b2_cube": b2_cube,
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_near_clusters": dedup_near_clusters,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_incremental_minhash": dedup_incremental_minhash,
        "dedup_incremental_semantic": dedup_incremental_semantic,
        "dedup_incremental_semantic_keepers":
            dedup_incremental_semantic_keepers,
        "dedup_incremental_keepers": dedup_incremental_keepers,
        "dedup_simhash": dedup_simhash,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_semantic": dedup_semantic,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_ann_lsh_topk": sim_ann_lsh_topk,
        "sim_ann_ivf_topk": sim_ann_ivf_topk,
        "sim_ann_recall": sim_ann_recall,
        "mm_media_features": mm_media_features,
        "mm_media_decode": mm_media_decode,
        "sketch_distinct_tokens": sketch_distinct_tokens,
        "sketch_token_quantiles": sketch_token_quantiles,
        "text_tokens": text_tokens,
        "text_bpe_tokens": text_bpe_tokens,
        "text_quality": text_quality,
        "text_langid": text_langid,
        "text_repetition": text_repetition,
        "contamination_ngram": contamination_ngram,
        "text_pii_scrub": text_pii_scrub,
        "sample_stratified": sample_stratified,
        "sample_mixture": sample_mixture,
        "text_url_domains": text_url_domains,
        "bpe_pair_stats": bpe_pair_stats,
        "pack_sequences": pack_sequences,
        "chunk_sliding": chunk_sliding,
        "ret_bm25_topk": ret_bm25_topk,
        "dedup_substring_spans": dedup_substring_spans,
        "corpus_token_stats": corpus_token_stats,
        "curation_e2e": curation_e2e,
        "text_fingerprint": text_fingerprint,
        "text_rolling_fingerprint": text_rolling_fingerprint,
        "graph_pagerank": graph_pagerank,
        "graph_pagerank_dangling": graph_pagerank_dangling,
        "sess_gap_stats": sess_gap_stats,
        "st_interval_join": st_interval_join,
        "sess_window_native": sess_window_native,
        "aj_purchase_asof": aj_purchase_asof,
        "rj_event_overlap": rj_event_overlap,
        "cdc_compress_changes": cdc_compress_changes,
        "cdc_latest_state": cdc_latest_state,
        "cdc_scd2_versions": cdc_scd2_versions,
        "graph_triangles": graph_triangles,
        "bpe_encode_counts": bpe_encode_counts,
        "text_lm_nll": text_lm_nll,
        "text_lm_nll_xlm": text_lm_nll_xlm,
        "text_lm2_nll": text_lm2_nll,
        "text_lm3_nll": text_lm3_nll,
        "text_lm5_nll": text_lm5_nll,
        "text_ccnet_buckets": text_ccnet_buckets,
        "text_paragraph_dedup": text_paragraph_dedup,
        "kg_bgp_match": kg_bgp_match,
        "kg_path_match": kg_path_match,
        "kg_sparql_agg": kg_sparql_agg,
        "kg_sparql_negation": kg_sparql_negation,
        "kg_construct_rule": kg_construct_rule,
        "kg_rules_fixpoint": kg_rules_fixpoint,
        "catalog_changelog": catalog_changelog,
        "catalog_pruned_scan": catalog_pruned_scan,
        "text_gopher_gate": text_gopher_gate,
        "dsir_en_weights": dsir_en_weights,
        "quality_classifier_scores": quality_classifier_scores,
        "pivot_lang_matrix": pivot_lang_matrix,
        "unpivot_doc_metrics": unpivot_doc_metrics,
    }


# ------------------------------------------------------------- oracles

def oracle_sql() -> dict[str, str]:
    langid = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x != '') AS tk
            FROM documents),
        hits AS (
            SELECT doc_id,
                   len(list_filter(tk, t -> t IN ('the','and','of','to','in'))) AS h_en,
                   len(list_filter(tk, t -> t IN ('el','la','de','que','los'))) AS h_es,
                   len(list_filter(tk, t -> t IN ('der','die','und','das','ist'))) AS h_de,
                   len(list_filter(tk, t -> t IN ('le','la','et','les','des'))) AS h_fr
            FROM toks)
        SELECT doc_id,
               CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                    WHEN h_fr > greatest(h_en, h_es, h_de) THEN 'fr'
                    WHEN h_de > greatest(h_en, h_es) THEN 'de'
                    WHEN h_es > h_en THEN 'es'
                    ELSE 'en' END AS lang_guess
        FROM hits
    """
    quality = """
        WITH feats AS (
            SELECT doc_id,
                   length(text) AS l,
                   len(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x != '')) AS nt,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
            FROM documents)
        -- all literals cast to DOUBLE: DuckDB would otherwise evaluate
        -- 0.5*… in DECIMAL arithmetic and round .5 boundaries the other
        -- way than Spark's IEEE doubles
        SELECT doc_id,
               floor(greatest(0.0::DOUBLE, least(1.0::DOUBLE,
                   0.5::DOUBLE * least(nt / 100.0::DOUBLE, 1.0::DOUBLE)
                 + 0.3::DOUBLE * least((l / greatest(nt, 1)) / 8.0::DOUBLE,
                                       1.0::DOUBLE)
                 + 0.2::DOUBLE * (1.0::DOUBLE -
                       least(punct / greatest(l, 1) * 10.0::DOUBLE,
                             1.0::DOUBLE)))) * 10000) / 10000 AS quality
        FROM feats
    """
    # shared CTE chain: shingling → stop-shingle cap → pair jaccard
    # (used by dedup_ngram_jaccard and, under WITH RECURSIVE, by the
    # cluster/keeper oracle)
    jaccard_ctes = """
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x != '') AS tk
            FROM documents WHERE doc_id < 300),
        sh_all AS (
            SELECT DISTINCT doc_id,
                   tk[i + 1] || ' ' || tk[i + 2] AS sh
            FROM toks, unnest(range(greatest(len(tk) - 1, 1))) AS u(i)
            WHERE len(tk) >= 2),
        -- stop-shingle cap (mirrors max_shingle_freq=50): shingles in
        -- more than 50 docs are dropped before the self-join
        hot AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > 50),
        sh AS (SELECT * FROM sh_all ANTI JOIN hot USING (sh)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b USING (sh)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2),
        jpairs AS (
            SELECT id_a, id_b,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8)
    """
    jaccard = ("WITH " + jaccard_ctes +
               "SELECT id_a, id_b, jaccard FROM jpairs")
    # clusters = connected components of the pair graph (min-label via
    # recursive reachability), keeper = min id; unpaired docs keep
    # themselves — mirrors near_dup_keepers + the union-find loop
    clusters = ("WITH RECURSIVE " + jaccard_ctes + """,
        edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
                  UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
            SELECT src AS id, dst AS peer FROM edges
            UNION
            SELECT reach.id, edges.dst
            FROM reach JOIN edges ON reach.peer = edges.src)
        SELECT d.doc_id AS id,
               coalesce(least(d.doc_id, r.mn), d.doc_id) AS keeper_id
        FROM documents d
        LEFT JOIN (SELECT id, min(peer) AS mn FROM reach GROUP BY id) r
               ON r.id = d.doc_id
        WHERE d.doc_id < 300""")
    out = {
        "s1_reassembly": """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
            FROM events GROUP BY user_id""",
        "p1_leader_dispatch": """
            SELECT CASE WHEN lang = 'en' THEN 'classification'
                        WHEN lang = 'es' THEN 'authority'
                        ELSE 'invalid' END AS kind,
                   count(*) AS cnt
            FROM documents GROUP BY 1""",
        "p3_publish_filter": """
            SELECT doc_id, n_chars FROM documents
            WHERE n_chars > 100 AND NOT contains(text, 'dup')""",
        "t1_precedence_coalesce": """
            SELECT coalesce(nullif(o_orderpriority, '5-LOW'),
                            o_orderstatus) AS resolved,
                   count(*) AS cnt
            FROM orders GROUP BY 1""",
        "t2_date_decode": """
            SELECT cast(year(o_orderdate) AS int) AS yr,
                   count(*) AS cnt,
                   strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
                   round(sum(o_totalprice), 2) AS turnover
            FROM orders GROUP BY 1""",
        "t5_flag_decode": """
            SELECT substr(p_brand, 7, 1) AS flag,
                   CASE substr(p_brand, 7, 1)
                        WHEN '1' THEN 'schedule'
                        WHEN '2' THEN 'table'
                        WHEN '3' THEN 'external_summary'
                        WHEN '4' THEN 'internal_summary'
                        ELSE 'unknown' END AS decoded,
                   count(*) AS cnt
            FROM part GROUP BY 1, 2""",
        "t7_uri_mint": """
            SELECT c_custkey,
                   'http://example.org/customer/' ||
                   lpad(cast(c_custkey AS varchar), 8, '0') || '-' ||
                   replace(lower(c_name), ' ', '-') AS uri
            FROM customer""",
        "t8_broadcast_scheme_join": """
            SELECT r_name AS region, count(*) AS cnt,
                   round(sum(c_acctbal), 2) AS balance
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1""",
        "p7_quarantine_antijoin": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey)""",
        "t9_stringify_fold": """
            SELECT l_orderkey,
                   string_agg(CASE WHEN l_returnflag = 'R'
                                   THEN '-' || l_returnflag
                                   ELSE ' ' || l_returnflag END,
                              '' ORDER BY l_linenumber, l_returnflag) AS flags
            FROM lineitem GROUP BY 1""",
        "u1_triple_fanout": """
            SELECT 'doc:' || cast(doc_id AS varchar) AS subj,
                   'lang' AS pred, lang AS obj FROM documents
            UNION ALL
            SELECT 'doc:' || cast(doc_id AS varchar), 'source', source
            FROM documents
            UNION ALL
            SELECT 'doc:' || cast(doc_id AS varchar), 'n_chars',
                   cast(n_chars AS varchar)
            FROM documents""",
        "g1_dedup_set": "SELECT DISTINCT lang, source FROM documents",
        "g2_inverse_expand": """
            SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
            FROM nation JOIN region ON n_regionkey = r_regionkey
            UNION
            SELECT r_name, 'has_nation', n_name
            FROM nation JOIN region ON n_regionkey = r_regionkey""",
        "g4_ordered_sink_key": """
            WITH keyed AS (
                SELECT p_partkey,
                       CASE WHEN p_type LIKE 'STANDARD%' THEN 'C' || p_name
                            WHEN p_type LIKE 'SMALL%' THEN 'B' || p_name
                            ELSE 'A' || p_name END AS sort_key
                FROM part)
            SELECT p_partkey, sort_key,
                   cast(row_number() OVER (ORDER BY sort_key, p_partkey)
                        AS bigint) AS rk
            FROM keyed""",
        "w1_window_rank": """
            WITH ranked AS (
                SELECT user_id, event_id, event_type,
                       cast(row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            AS int) AS rn
                FROM events)
            SELECT user_id, rn, event_id, event_type
            FROM ranked WHERE rn <= 3""",
        "cc_region_cliques": """
            SELECT n_name AS vertex,
                   min(n_name) OVER (PARTITION BY n_regionkey) AS comp
            FROM nation""",
        "p4_array_projection": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   x -> x != '') AS tk
                FROM documents)
            SELECT doc_id,
                   cast(len(list_filter(tk, t -> t LIKE 's%')) AS int)
                       AS s_tokens,
                   len(list_filter(tk, t -> t = 'spark')) > 0
                       AS mentions_spark,
                   cast(list_max(list_transform(tk, t -> length(t))) AS int)
                       AS longest_token
            FROM toks""",
        "b1_rollup": """
            SELECT coalesce(lang, 'ALL') AS lang,
                   coalesce(source, 'ALL') AS source,
                   count(*) AS cnt, cast(sum(n_chars) AS bigint) AS chars
            FROM documents GROUP BY ROLLUP (lang, source)""",
        "b2_cube": """
            SELECT coalesce(lang, 'ALL') AS lang,
                   coalesce(source, 'ALL') AS source,
                   count(*) AS cnt, cast(sum(n_chars) AS bigint) AS chars
            FROM documents GROUP BY CUBE (lang, source)""",
        "dedup_exact": """
            SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
            FROM documents GROUP BY text HAVING count(*) > 1""",
        "dedup_ngram_jaccard": jaccard,
        "dedup_near_clusters": clusters,
        # dedup_minhash_lsh / dedup_simhash / text_fingerprint hash with
        # Spark's xxhash64 (public spec, seeded, deterministic); DuckDB
        # lacks the function, so their oracles are precomputed VALUES
        # literals — merged in below from plans/oracle_values.py
        # (regenerate with tools/gen_oracle_values.py).
        "sim_cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(
                       cast(embedding AS double[]),
                       (SELECT cast(embedding AS double[]) FROM embeddings
                        WHERE vec_id = 0)), 4) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id
            LIMIT 10""",
        # exact all-pairs over the same planted-near-dup augmentation —
        # the Spark side answers through the LSH-bucketed multi-probe
        # path and must EQUAL this exhaustive reference
        "dedup_embedding_cosine": """
            WITH base AS (
                SELECT vec_id, cast(embedding AS double[]) AS v
                FROM embeddings),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(list_zip(v, list_reverse(v)),
                                      x -> x[1] + 0.15::DOUBLE * x[2]) AS v
                FROM base WHERE vec_id < 100),
            aug AS (SELECT vec_id, v FROM base
                    UNION ALL SELECT vec_id, v FROM planted)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   floor(list_cosine_similarity(a.v, b.v) * 10000) / 10000
                       AS cosine
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE floor(list_cosine_similarity(a.v, b.v) * 10000)
                  >= 9000""",
        # SemDeDup end-to-end in SQL: same planted copies, arithmetic
        # centroid slice, correlated-argmax assignment (ties → larger
        # cid, matching Spark's array_max on (s, cid) structs), within-
        # cluster pair scan, recursive min-label keeper
        "dedup_semantic": """
            WITH RECURSIVE base AS (
                SELECT vec_id, cast(embedding AS double[]) AS v
                FROM embeddings),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(list_zip(v, list_reverse(v)),
                                      x -> x[1] + 0.15::DOUBLE * x[2]) AS v
                FROM base WHERE vec_id < 100),
            aug AS (SELECT vec_id, v FROM base
                    UNION ALL SELECT vec_id, v FROM planted),
            cent AS (
                SELECT vec_id AS cid, v AS cv FROM aug
                WHERE vec_id % 8 = 0 ORDER BY vec_id LIMIT 16),
            assigned AS (
                SELECT a.vec_id, a.v,
                       (SELECT c.cid FROM cent c
                        ORDER BY list_cosine_similarity(a.v, c.cv) DESC,
                                 c.cid DESC
                        LIMIT 1) AS centroid
                FROM aug a),
            spairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assigned a JOIN assigned b
                     ON a.centroid = b.centroid AND a.vec_id < b.vec_id
                WHERE floor(list_cosine_similarity(a.v, b.v) * 10000)
                      >= 9700),
            edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
                      UNION ALL SELECT id_b, id_a FROM spairs),
            reach AS (
                SELECT src AS id, dst AS peer FROM edges
                UNION
                SELECT reach.id, edges.dst
                FROM reach JOIN edges ON reach.peer = edges.src)
            SELECT a.vec_id AS id,
                   coalesce(least(a.vec_id, r.mn), a.vec_id) AS keeper_id
            FROM aug a
            LEFT JOIN (SELECT id, min(peer) AS mn FROM reach GROUP BY id) r
                   ON r.id = a.vec_id""",
        # incremental SemDeDup KEEPER decision: the oracle recomputes
        # everything from scratch — corpus-slice centroids, assignment
        # over corpus ∪ batch, within-centroid pairs, recursive
        # connected-component min-id keepers — so a hash match proves
        # the two-batch append-only keeper/remap state machine equals
        # the from-scratch decision.
        "dedup_incremental_semantic_keepers": """
            WITH RECURSIVE base AS (
                SELECT vec_id, cast(embedding AS double[]) AS v
                FROM embeddings),
            corpus AS (SELECT vec_id, v FROM base WHERE vec_id < 400),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(list_zip(v, list_reverse(v)),
                                      x -> x[1] + 0.15::DOUBLE * x[2]) AS v
                FROM base WHERE vec_id < 50),
            batch AS (
                SELECT vec_id, v FROM base
                WHERE vec_id >= 400 AND vec_id < 450
                UNION ALL SELECT vec_id, v FROM planted),
            allv AS (
                SELECT vec_id, v FROM corpus
                UNION ALL SELECT vec_id, v FROM batch),
            cent AS (
                SELECT vec_id AS cid, v AS cv FROM corpus
                WHERE vec_id % 8 = 0 ORDER BY vec_id LIMIT 16),
            assigned AS (
                SELECT a.vec_id, a.v,
                       (SELECT c.cid FROM cent c
                        ORDER BY list_cosine_similarity(a.v, c.cv) DESC,
                                 c.cid DESC
                        LIMIT 1) AS centroid
                FROM allv a),
            spairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assigned a JOIN assigned b
                     ON a.centroid = b.centroid AND a.vec_id < b.vec_id
                WHERE floor(list_cosine_similarity(a.v, b.v) * 10000)
                      >= 9700),
            edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
                      UNION ALL SELECT id_b, id_a FROM spairs),
            reach AS (
                SELECT src AS id, dst AS peer FROM edges
                UNION
                SELECT reach.id, edges.dst
                FROM reach JOIN edges ON reach.peer = edges.src)
            SELECT a.vec_id AS id,
                   coalesce(least(a.vec_id, r.mn), a.vec_id) AS keeper_id
            FROM allv a
            LEFT JOIN (SELECT id, min(peer) AS mn FROM reach GROUP BY id) r
                   ON r.id = a.vec_id""",
        # incremental SemDeDup: the oracle recomputes the same split —
        # centroids from the CORPUS slice only (they are fixed at index
        # creation), assignment over corpus ∪ batch, within-centroid
        # pairs restricted to those touching the batch.  Same
        # list_cosine_similarity-vs-unit-dot parity bet as
        # dedup_semantic (green at both SFs; see COVERAGE.md).
        "dedup_incremental_semantic": """
            WITH base AS (
                SELECT vec_id, cast(embedding AS double[]) AS v
                FROM embeddings),
            corpus AS (SELECT vec_id, v FROM base WHERE vec_id < 400),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(list_zip(v, list_reverse(v)),
                                      x -> x[1] + 0.15::DOUBLE * x[2]) AS v
                FROM base WHERE vec_id < 50),
            batch AS (
                SELECT vec_id, v FROM base
                WHERE vec_id >= 400 AND vec_id < 450
                UNION ALL SELECT vec_id, v FROM planted),
            cent AS (
                SELECT vec_id AS cid, v AS cv FROM corpus
                WHERE vec_id % 8 = 0 ORDER BY vec_id LIMIT 16),
            allv AS (
                SELECT vec_id, v, FALSE AS is_batch FROM corpus
                UNION ALL SELECT vec_id, v, TRUE FROM batch),
            assigned AS (
                SELECT a.vec_id, a.v, a.is_batch,
                       (SELECT c.cid FROM cent c
                        ORDER BY list_cosine_similarity(a.v, c.cv) DESC,
                                 c.cid DESC
                        LIMIT 1) AS centroid
                FROM allv a)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.centroid AS centroid,
                   floor(list_cosine_similarity(a.v, b.v) * 10000)
                       / 10000.0 AS cosine
            FROM assigned a JOIN assigned b
                 ON a.centroid = b.centroid AND a.vec_id < b.vec_id
            WHERE (a.is_batch OR b.is_batch)
              AND floor(list_cosine_similarity(a.v, b.v) * 10000)
                  >= 9700""",
        "st_completeness_gate": """
            WITH turns AS (
                SELECT user_id AS conv_id,
                       cast(event_id % 16 AS int) AS turn_idx,
                       CASE WHEN event_type = 'purchase'
                            THEN 'assistant' ELSE 'user' END AS role,
                       CASE WHEN event_type = 'purchase'
                            THEN 'done' ELSE event_type END AS text
                FROM events)
            SELECT conv_id FROM turns
            GROUP BY conv_id
            HAVING count(DISTINCT turn_idx) = max(turn_idx) + 1
               AND max(CASE WHEN role = 'assistant' AND text = 'done'
                            THEN turn_idx END) = max(turn_idx)""",
        "st_turn_rate_metrics": """
            WITH turns AS (
                SELECT user_id AS conv_id, ts,
                       event_type AS text,
                       CASE WHEN event_type = 'purchase'
                            THEN 'marc_export' ELSE 'other' END AS tool
                FROM events)
            SELECT cast(floor(epoch(ts) / 86400) * 86400 AS bigint)
                       AS ws,
                   cast(floor(epoch(ts) / 86400) * 86400 + 86400
                        AS bigint) AS we,
                   count(*) AS turns,
                   count(CASE WHEN tool = 'marc_export' THEN 1 END)
                       AS payload_turns,
                   count(DISTINCT conv_id) AS conversations,
                   cast(sum(CASE WHEN tool = 'marc_export'
                                 THEN length(text) ELSE 0 END)
                        AS bigint) AS payload_chars
            FROM turns GROUP BY 1, 2""",
        "g3_label_conflicts": """
            WITH t AS (
                SELECT 'doc:' || cast(doc_id AS varchar) AS subj,
                       source AS scheme,
                       lang || '-' || cast(n_chars % 40 AS varchar)
                           AS label,
                       lang
                FROM documents)
            SELECT scheme, label, lang,
                   cast(count(DISTINCT subj) AS bigint) AS n_concepts,
                   string_agg(subj, '|' ORDER BY subj) AS concepts
            FROM t GROUP BY 1, 2, 3
            HAVING count(DISTINCT subj) > 1""",
        "el_label_links": """
            WITH aug AS (
                SELECT 'doc:' || cast(doc_id AS varchar) AS id,
                       text, source
                FROM documents WHERE doc_id < 300
                UNION ALL
                SELECT 'doc:' || cast(doc_id + 200000 AS varchar),
                       text || ' qq', 'planted'
                FROM documents WHERE doc_id < 60),
            toks AS (
                SELECT id, source,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM aug),
            sh_all AS (
                SELECT DISTINCT id, tk[i + 1] || ' ' || tk[i + 2] AS sh
                FROM toks, unnest(range(greatest(len(tk) - 1, 1))) AS u(i)
                WHERE len(tk) >= 2),
            hot AS (SELECT sh FROM sh_all GROUP BY sh
                    HAVING count(*) > 50),
            sh AS (SELECT * FROM sh_all ANTI JOIN hot USING (sh)),
            sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
            srcs AS (SELECT DISTINCT id, source FROM aug),
            inter AS (
                SELECT a.id AS src, b.id AS dst, count(*) AS i
                FROM sh a JOIN sh b USING (sh)
                WHERE a.id < b.id GROUP BY 1, 2)
            SELECT src, dst,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS score
            FROM inter
            JOIN sizes sa ON sa.id = src
            JOIN sizes sb ON sb.id = dst
            JOIN srcs qa ON qa.id = src
            JOIN srcs qb ON qb.id = dst
            WHERE qa.source != qb.source
              AND round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8""",
        "tc_cycle_detect": """
            WITH RECURSIVE e AS (
                SELECT cast(doc_id AS int) AS src,
                       cast(doc_id // 2 AS int) AS dst
                FROM documents WHERE doc_id >= 1 AND doc_id < 64
                UNION ALL SELECT 1, 63),
            tc AS (
                SELECT src, dst FROM e
                UNION
                SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src)
            SELECT DISTINCT src AS vertex FROM tc WHERE src = dst""",
        "tc_transitive_closure": """
            WITH RECURSIVE e AS (
                SELECT cast(doc_id AS int) AS src,
                       cast(doc_id // 2 AS int) AS dst
                FROM documents WHERE doc_id >= 1),
            tc AS (
                SELECT src, dst FROM e
                UNION
                SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src)
            SELECT src, dst FROM tc""",
        "text_bpe_tokens": """
            SELECT doc_id,
                   cast(len(regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
                        AS int) AS n_bpe
            FROM documents""",
        "text_tokens": """
            SELECT doc_id,
                   cast(len(list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x != '')) AS int) AS n_tokens
            FROM documents""",
        # HLL++ sketch row: the oracle computes the EXACT distinct count
        # and pins ok_5pct = TRUE.  The sketch value itself never leaves
        # the Spark plan; its 5%-envelope verdict does — a sketch-impl
        # drift past the envelope flips ok_5pct and fails the hash
        # compare loudly (the sketch is deterministic for fixed input +
        # implementation, so this is a stable gate, not a flaky one).
        "sketch_distinct_tokens": """
            SELECT source,
                   count(DISTINCT token) AS exact_distinct,
                   TRUE AS ok_5pct
            FROM (SELECT source,
                         unnest(list_filter(
                             regexp_split_to_array(lower(text), '\\s+'),
                             x -> x != '')) AS token
                  FROM documents)
            GROUP BY source""",
        # GK approx-percentile sketch row, same contract: the exact
        # quartiles (floor-quantized) carry the hash; the sketch's
        # rank-error witness (approx median inside the exact
        # interquartile band — 25x the 1% guaranteed rank error) is
        # pinned TRUE.  quantile_cont == Spark's exact percentile
        # (both linear-interpolation over sorted values; quantization
        # absorbs last-ulp drift).
        "sketch_token_quantiles": """
            WITH per AS (
                SELECT source,
                       len(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x != '')) AS n_tokens
                FROM documents)
            SELECT source,
                   CAST(floor(quantile_cont(n_tokens, 0.25) * 10000)
                        AS BIGINT) AS p25_q,
                   CAST(floor(quantile_cont(n_tokens, 0.5) * 10000)
                        AS BIGINT) AS p50_q,
                   CAST(floor(quantile_cont(n_tokens, 0.75) * 10000)
                        AS BIGINT) AS p75_q,
                   TRUE AS ok_rank
            FROM per GROUP BY source""",
        "text_quality": quality,
        "text_langid": langid,
        # Gopher-style intra-document repetition signals.  The oracle
        # materializes bigram counts relationally; the Spark side is a
        # zero-shuffle array_sort + max-run fold — same multiplicities.
        "text_repetition": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            grams AS (
                SELECT doc_id, tk[i + 1] || ' ' || tk[i + 2] AS bg
                FROM toks, unnest(range(greatest(len(tk) - 1, 1))) AS u(i)
                WHERE len(tk) >= 2),
            top AS (
                SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM (
                    SELECT doc_id, bg, count(*) AS c
                    FROM grams GROUP BY 1, 2)
                GROUP BY 1)
            SELECT t.doc_id,
                   CASE WHEN len(tk) > 0
                        THEN floor((1.0 - len(list_distinct(tk)) * 1.0
                                    / len(tk)) * 10000) / 10000
                        ELSE 0.0 END AS dup_token_frac,
                   coalesce(floor(mx * 1.0 / tot * 10000) / 10000, 0.0)
                       AS top_bigram_frac
            FROM toks t LEFT JOIN top USING (doc_id)""",
        # PII audit + scrub: same plant, counts via regexp_extract_all
        # length, redaction via the same three patterns nested in
        # PII_PATTERNS order with the 'g' flag (DuckDB replaces first
        # match only by default)
        "text_pii_scrub": """
            WITH seeded AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' contact user'
                                 || cast(doc_id AS varchar)
                                 || '@example.com from 10.0.'
                                 || cast(doc_id % 256 AS varchar)
                                 || '.7 call 555-123-'
                                 || lpad(cast(doc_id % 10000 AS varchar),
                                         4, '0')
                            ELSE text END AS text
                FROM documents)
            SELECT doc_id,
                   cast(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                        )) AS int) AS n_email,
                   cast(len(regexp_extract_all(text,
                        '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS int)
                       AS n_ipv4,
                   cast(len(regexp_extract_all(text,
                        '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS int) AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '[EMAIL]', 'g'),
                        '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'),
                        '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g')
                       AS scrubbed
            FROM seeded""",
        # deterministic stratified sampling: the keep decision is exact
        # int64 arithmetic (two multiply-mod-2^31 + xorshift rounds) +
        # one double division, identical in both engines (no xxhash)
        "sample_stratified": """
            WITH s1 AS (
                SELECT doc_id, lang,
                       ((doc_id % 2147483648) * 2654435761 + 1013904223)
                           % 2147483648 AS x
                FROM documents),
            s2 AS (
                SELECT doc_id, lang,
                       (xor(x, x // 65536) * 1540483477)
                           % 2147483648 AS x
                FROM s1),
            s3 AS (
                SELECT doc_id, lang, xor(x, x // 65536) AS x FROM s2)
            SELECT doc_id, lang FROM s3
            WHERE x / 2147483648.0
                  < CASE WHEN lang = 'en' THEN 0.5
                         WHEN lang = 'es' THEN 0.25
                         ELSE 0.05 END""",
        # temperature-scaled mixture sampling: integer sqrt weights
        # (floor of a correctly-rounded IEEE sqrt — exact cross-engine),
        # exact integer weight sums (double sums are addition-order-
        # dependent), identically-parenthesized double rate expression,
        # and the same xorshift keep-hash as sample_stratified
        "sample_mixture": """
            WITH t AS (
                SELECT doc_id, lang,
                       cast(len(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x != '')) AS int) AS n_tokens
                FROM documents),
            s AS (
                SELECT lang, cast(sum(n_tokens) AS bigint) AS st
                FROM t GROUP BY lang),
            w AS (
                SELECT lang, st,
                       cast(floor(sqrt(cast(st AS DOUBLE))) AS bigint)
                           AS w
                FROM s),
            g AS (
                SELECT cast(sum(st) AS bigint) AS tot,
                       cast(sum(w) AS bigint) AS wsum
                FROM w),
            r AS (
                SELECT lang,
                       least(1.0::DOUBLE,
                             (0.5::DOUBLE * cast(tot AS DOUBLE)
                              * cast(w AS DOUBLE))
                             / (cast(wsum AS DOUBLE)
                                * cast(st AS DOUBLE))) AS rate
                FROM w, g),
            h1 AS (
                SELECT doc_id, lang, n_tokens,
                       ((doc_id % 2147483648) * 2654435761 + 1013904223)
                           % 2147483648 AS x
                FROM t),
            h2 AS (
                SELECT doc_id, lang, n_tokens,
                       (xor(x, x // 65536) * 1540483477)
                           % 2147483648 AS x
                FROM h1),
            h3 AS (
                SELECT doc_id, lang, n_tokens, xor(x, x // 65536) AS x
                FROM h2)
            SELECT doc_id, h3.lang, n_tokens
            FROM h3 JOIN r ON h3.lang = r.lang
            WHERE x / 2147483648.0 < rate""",
        # BPE round-1 pair statistics: word-frequency table → adjacent
        # char pairs weighted by word count → top-20 under the total
        # order (count desc, a, b) so the cutoff is engine-independent
        "bpe_pair_stats": """
            WITH words AS (
                SELECT w AS word, count(*) AS cnt
                FROM documents,
                     unnest(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS u(w)
                GROUP BY w),
            pairs AS (
                SELECT substring(word, i, 1) AS a,
                       substring(word, i + 1, 1) AS b, cnt
                FROM words, unnest(range(1, length(word))) AS r(i))
            SELECT a, b, cast(sum(cnt) AS bigint) AS pair_count
            FROM pairs GROUP BY a, b
            ORDER BY pair_count DESC, a, b LIMIT 20""",
        # sequence packing: window prefix-sum oracle; the Spark side
        # computes the identical values without the single-partition
        # window (range partitions + per-partition offsets)
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       cast(len(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x != '')) AS int) AS n_tokens
                FROM documents)
            SELECT doc_id, n_tokens,
                   cast(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bigint)
                       AS start_offset,
                   cast(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bigint)
                       // 512 AS seq_id
            FROM t""",
        # sliding-window chunking: 64/48 token windows; list slicing
        # clamps identically in both engines and the ceil-div chunk
        # count is exact integer arithmetic on the oracle side
        "chunk_sliding": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            c AS (
                SELECT doc_id, tk,
                       CASE WHEN len(tk) <= 64 THEN 1
                            ELSE 1 + ((len(tk) - 64 + 47) // 48)
                       END AS n_chunks
                FROM t)
            SELECT doc_id,
                   cast(i AS int) AS chunk_idx,
                   cast(i * 48 AS int) AS chunk_start,
                   cast(len(tk[i * 48 + 1 : i * 48 + 64]) AS int)
                       AS n_chunk_tokens,
                   array_to_string(tk[i * 48 + 1 : i * 48 + 64], ' ')
                       AS chunk_text
            FROM c, unnest(range(n_chunks)) AS u(i)""",
        # BM25: per-(doc,term) contributions floor-truncated to 1e-4
        # and summed as BIGINTs (order-independent across engines),
        # divided back once; ln / division / multiplication are IEEE-
        # identical in Spark and DuckDB
        "ret_bm25_topk": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            stats AS (
                SELECT count(*)::DOUBLE AS n_docs,
                       avg(len(tk))::DOUBLE AS avgdl
                FROM toks),
            tf AS (
                SELECT doc_id, len(tk) AS dl, t.term AS term,
                       count(*)::DOUBLE AS tf
                FROM toks, unnest(list_filter(tk,
                         x -> x IN ('spark', 'join', 'window',
                                    'stream'))) AS t(term)
                GROUP BY doc_id, dl, term),
            dfreq AS (
                SELECT term, count(*)::DOUBLE AS df FROM tf
                GROUP BY term),
            scored AS (
                SELECT doc_id,
                       CAST(floor(
                           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                           * (tf * (1.2 + 1))
                           / (tf + 1.2 * (1 - 0.75
                                          + 0.75 * dl / avgdl))
                           * 10000) AS BIGINT) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
            SELECT doc_id, sum(s) / 10000.0 AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT 10""",
        # repeated-substring spans: the oracle keys duplicate windows
        # on the window TEXT where the Spark plan ships xxhash64 keys —
        # matching spans cross-check the hash shortcut end-to-end
        "dedup_substring_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            wins AS (
                SELECT doc_id, i - 1 AS pos,
                       array_to_string(tk[i : i + 7], ' ') AS wtext
                FROM toks, unnest(range(1, len(tk) - 6)) AS r(i)),
            dup AS (
                SELECT wtext FROM wins GROUP BY wtext
                HAVING count(DISTINCT doc_id) >= 2),
            flagged AS (
                SELECT doc_id, pos, pos + 8 AS e
                FROM wins JOIN dup USING (wtext)),
            isl AS (
                SELECT doc_id, pos, e,
                       CASE WHEN pos > coalesce(max(e) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1)
                            THEN 1 ELSE 0 END AS ni
                FROM flagged),
            isl2 AS (
                SELECT doc_id, pos, e,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS island
                FROM isl)
            SELECT doc_id,
                   cast(min(pos) AS int) AS span_start,
                   cast(max(e) AS int) AS span_end,
                   count(*) AS n_windows
            FROM isl2 GROUP BY doc_id, island""",
        # percentile family: Spark's exact F.percentile and DuckDB's
        # quantile_cont both linearly interpolate — floor-truncated to
        # 2 decimals for boundary safety
        "corpus_token_stats": """
            WITH t AS (
                SELECT lang,
                       cast(len(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x != '')) AS int) AS n_tokens
                FROM documents)
            SELECT lang, count(*) AS n_docs,
                   floor(avg(n_tokens) * 100) / 100 AS mean_tokens,
                   floor(quantile_cont(n_tokens, 0.5) * 100) / 100
                       AS median_tokens,
                   floor(quantile_cont(n_tokens, 0.9) * 100) / 100
                       AS p90_tokens
            FROM t GROUP BY lang""",
        # the full batch-curation composition in one SQL chain: gate
        # (quality + top-bigram) → min-id exact dedup → xorshift-hash
        # stratified sample → window prefix-sum packing
        "curation_e2e": """
            WITH toks AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            feats AS (
                SELECT doc_id, text, tk, len(tk) AS nt,
                       length(text) AS l,
                       length(regexp_replace(text, '[^.,;:!?]', '',
                                             'g')) AS punct
                FROM toks),
            q AS (
                SELECT doc_id, text, tk, nt,
                       floor(greatest(0.0::DOUBLE, least(1.0::DOUBLE,
                           0.5::DOUBLE * least(nt / 100.0::DOUBLE,
                                               1.0::DOUBLE)
                         + 0.3::DOUBLE * least((l / greatest(nt, 1))
                                               / 8.0::DOUBLE,
                                               1.0::DOUBLE)
                         + 0.2::DOUBLE * (1.0::DOUBLE -
                               least(punct / greatest(l, 1)
                                     * 10.0::DOUBLE, 1.0::DOUBLE))))
                           * 10000) / 10000 AS quality
                FROM feats),
            grams AS (
                SELECT doc_id, tk[i + 1] || ' ' || tk[i + 2] AS bg
                FROM q, unnest(range(greatest(len(tk) - 1, 1))) AS u(i)
                WHERE len(tk) >= 2),
            top AS (
                SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM (
                    SELECT doc_id, bg, count(*) AS c
                    FROM grams GROUP BY 1, 2) GROUP BY 1),
            rep AS (
                SELECT q.*, coalesce(floor(mx * 1.0 / tot * 10000)
                                     / 10000, 0.0) AS top_bigram_frac
                FROM q LEFT JOIN top USING (doc_id)),
            hits AS (
                SELECT doc_id,
                       len(list_filter(tk, t -> t IN
                           ('the','and','of','to','in'))) AS h_en,
                       len(list_filter(tk, t -> t IN
                           ('el','la','de','que','los'))) AS h_es,
                       len(list_filter(tk, t -> t IN
                           ('der','die','und','das','ist'))) AS h_de,
                       len(list_filter(tk, t -> t IN
                           ('le','la','et','les','des'))) AS h_fr
                FROM rep),
            lang AS (
                SELECT doc_id,
                       CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0
                                THEN 'und'
                            WHEN h_fr > greatest(h_en, h_es, h_de)
                                THEN 'fr'
                            WHEN h_de > greatest(h_en, h_es) THEN 'de'
                            WHEN h_es > h_en THEN 'es'
                            ELSE 'en' END AS lang_guess
                FROM hits),
            gated AS (
                SELECT r.doc_id, r.text, cast(r.nt AS int) AS n_tokens,
                       l.lang_guess
                FROM rep r JOIN lang l USING (doc_id)
                WHERE r.quality >= 0.1 AND r.top_bigram_frac <= 0.5),
            exact AS (
                SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
            deduped AS (
                SELECT g.doc_id, g.n_tokens, g.lang_guess
                FROM gated g JOIN exact USING (doc_id)),
            s1 AS (
                SELECT *, ((doc_id % 2147483648) * 2654435761
                           + 1013904223) % 2147483648 AS x
                FROM deduped),
            s2 AS (
                SELECT * EXCLUDE (x),
                       (xor(x, x // 65536) * 1540483477)
                           % 2147483648 AS x
                FROM s1),
            s3 AS (
                SELECT * EXCLUDE (x), xor(x, x // 65536) AS x FROM s2),
            sampled AS (
                SELECT doc_id, lang_guess, n_tokens FROM s3
                WHERE x / 2147483648.0
                      < CASE WHEN lang_guess = 'en' THEN 0.6
                             WHEN lang_guess = 'es' THEN 0.3
                             ELSE 0.1 END)
            SELECT doc_id, lang_guess, n_tokens,
                   cast(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bigint)
                       AS start_offset,
                   cast(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bigint)
                       // 256 AS seq_id
            FROM sampled""",
        # per-domain URL stats over the same planted spans
        "text_url_domains": """
            WITH seeded AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN text || ' see https://site'
                                 || cast((doc_id // 5) % 20 AS varchar)
                                 || '.example.org/p'
                                 || cast(doc_id AS varchar)
                                 || ' and http://cdn.example.net/x'
                            ELSE text END AS text
                FROM documents),
            urls AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(text,
                              'https?://[^\\s]+')) AS url
                FROM seeded),
            dom AS (
                SELECT doc_id,
                       regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)
                           AS domain
                FROM urls)
            SELECT domain, count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_urls
            FROM dom GROUP BY domain""",
        # benchmark contamination: distinct 5-gram shingles shared with
        # the benchmark slice (doc_id % 50 = 0); the Spark plan
        # broadcasts the benchmark shingle set
        "contamination_ngram": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            sh AS (
                SELECT DISTINCT doc_id,
                       tk[i + 1] || ' ' || tk[i + 2] || ' ' ||
                       tk[i + 3] || ' ' || tk[i + 4] || ' ' ||
                       tk[i + 5] AS sh
                FROM toks, unnest(range(greatest(len(tk) - 4, 1))) AS u(i)
                WHERE len(tk) >= 5),
            bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
            hits AS (
                SELECT s.doc_id, count(*) AS bench_shingles
                FROM sh s JOIN bench USING (sh)
                WHERE s.doc_id % 50 != 0
                GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(h.bench_shingles, 0) AS bench_shingles,
                   coalesce(h.bench_shingles, 0) >= 2 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 50 != 0""",
        "mm_media_features": """
            SELECT doc_id AS media_id,
                   CASE cast(doc_id % 3 AS int)
                        WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   cast(octet_length(encode(text)) AS int) AS payload_bytes,
                   sha256(text) AS content_digest
            FROM documents""",
        # decode round-trip: expected header fields recomputed from
        # doc_id arithmetic only — the oracle never touches the bytes,
        # so a parser that misreads any RIFF/IHDR field hash-fails
        "mm_media_decode": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'audio'
                        ELSE 'image' END AS kind,
                   CASE WHEN doc_id % 3 = 1
                        THEN cast(16 + doc_id AS int)
                        WHEN doc_id % 3 = 2
                        THEN cast(32 + doc_id AS int)
                        END AS decoded_width,
                   CASE WHEN doc_id % 3 = 1
                        THEN cast(9 + doc_id % 7 AS int)
                        WHEN doc_id % 3 = 2
                        THEN cast(20 + doc_id % 9 AS int)
                        END AS decoded_height,
                   CASE WHEN doc_id % 3 = 0 THEN 16
                        ELSE 8 END AS decoded_bit_depth,
                   CASE WHEN doc_id % 3 = 0
                        THEN cast(8000 + (doc_id % 5) * 1000 AS int)
                        END AS decoded_sample_rate,
                   CASE WHEN doc_id % 3 = 0
                        THEN cast(1 + (CASE WHEN doc_id % 2 = 0
                                       THEN 1 ELSE 0 END) AS int)
                        WHEN doc_id % 3 = 2
                        THEN cast(1 + doc_id % 4 AS int)
                        END AS decoded_channels,
                   CASE WHEN doc_id % 3 = 0
                        THEN cast(((100 + doc_id) * 1000)
                                  // (8000 + (doc_id % 5) * 1000) AS int)
                        END AS decoded_duration_ms
            FROM documents WHERE doc_id < 60""",
        # PageRank: 3 unrolled integer-exact rounds.  `//` (DuckDB) ==
        # `div` (Spark) on BIGINT; every term is an integer, so the
        # comparison is bit-exact with no float-order sensitivity.
        "graph_pagerank": """
            WITH e AS (
                SELECT cast(doc_id AS bigint) AS src,
                       cast(doc_id // 2 AS bigint) AS dst
                FROM documents WHERE doc_id >= 2
                UNION ALL
                SELECT cast(doc_id AS bigint),
                       cast(doc_id // 3 AS bigint)
                FROM documents WHERE doc_id >= 2),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            params AS (SELECT count(*) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
            ed AS (SELECT e.src, e.dst, deg.od
                   FROM e JOIN deg ON e.src = deg.src),
            r0 AS (SELECT node, 1000000000000 // n AS r
                   FROM nodes CROSS JOIN params),
            c1 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r0 ON ed.src = r0.node GROUP BY dst),
            r1 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0) AS r
                   FROM nodes CROSS JOIN params
                   LEFT JOIN c1 ON node = c1.dst),
            c2 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r1 ON ed.src = r1.node GROUP BY dst),
            r2 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0) AS r
                   FROM nodes CROSS JOIN params
                   LEFT JOIN c2 ON node = c2.dst),
            c3 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r2 ON ed.src = r2.node GROUP BY dst),
            r3 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0) AS r
                   FROM nodes CROSS JOIN params
                   LEFT JOIN c3 ON node = c3.dst)
            SELECT node, cast(r AS bigint) AS rank_scaled FROM r3""",
        # mass-conserving PageRank: per round the dangling nodes'
        # summed rank is damped and split N ways with the same exact
        # integer div as the edge term
        "graph_pagerank_dangling": """
            WITH e AS (
                SELECT cast(doc_id AS bigint) AS src,
                       cast(doc_id // 2 AS bigint) AS dst
                FROM documents WHERE doc_id >= 2
                UNION ALL
                SELECT cast(doc_id AS bigint),
                       cast(doc_id // 3 AS bigint)
                FROM documents WHERE doc_id >= 2),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            params AS (SELECT count(*) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
            ed AS (SELECT e.src, e.dst, deg.od
                   FROM e JOIN deg ON e.src = deg.src),
            dang AS (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM e)),
            r0 AS (SELECT node, 1000000000000 // n AS r
                   FROM nodes CROSS JOIN params),
            d1 AS (SELECT coalesce(sum(r), 0) AS dm
                   FROM r0 JOIN dang USING (node)),
            c1 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r0 ON ed.src = r0.node GROUP BY dst),
            r1 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0)
                           + (dm * 85) // (100 * n) AS r
                   FROM nodes CROSS JOIN params CROSS JOIN d1
                   LEFT JOIN c1 ON node = c1.dst),
            d2 AS (SELECT coalesce(sum(r), 0) AS dm
                   FROM r1 JOIN dang USING (node)),
            c2 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r1 ON ed.src = r1.node GROUP BY dst),
            r2 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0)
                           + (dm * 85) // (100 * n) AS r
                   FROM nodes CROSS JOIN params CROSS JOIN d2
                   LEFT JOIN c2 ON node = c2.dst),
            d3 AS (SELECT coalesce(sum(r), 0) AS dm
                   FROM r2 JOIN dang USING (node)),
            c3 AS (SELECT dst, sum((r * 85) // (100 * od)) AS s
                   FROM ed JOIN r2 ON ed.src = r2.node GROUP BY dst),
            r3 AS (SELECT node,
                          (1000000000000 * 15) // (100 * n)
                           + coalesce(s, 0)
                           + (dm * 85) // (100 * n) AS r
                   FROM nodes CROSS JOIN params CROSS JOIN d3
                   LEFT JOIN c3 ON node = c3.dst)
            SELECT node, cast(r AS bigint) AS rank_scaled FROM r3""",
        "sess_gap_stats": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > cast(3600 AS bigint) * 1000000
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)),
            tagged AS (
                SELECT user_id, ts,
                       cast(sum(ns) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS bigint)
                           AS session_id
                FROM flagged)
            SELECT user_id, session_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   count(*) AS n_events,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
            FROM tagged GROUP BY user_id, session_id""",
        # stream-stream interval join, batch oracle: inclusive both
        # boundaries (the attribution convention the Spark side pins)
        "st_interval_join": """
            SELECT a.user_id, a.event_id AS action_id,
                   b.event_id AS outcome_id
            FROM events a
            JOIN events b ON a.user_id = b.user_id
                         AND b.ts >= a.ts
                         AND b.ts <= a.ts + INTERVAL 10 MINUTE
            WHERE a.event_type = 'click' AND b.event_type = 'error'""",
        "sess_window_native": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > cast(3600 AS bigint) * 1000000
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)),
            tagged AS (
                SELECT user_id, ts,
                       sum(ns) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged)
            SELECT user_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) + cast(3600 AS bigint) * 1000000
                       AS end_gap_us,
                   count(*) AS n_events
            FROM tagged GROUP BY user_id, sid""",
        "aj_purchase_asof": """
            WITH p AS (
                SELECT user_id, ts, max(event_id) AS p_event_id
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id,
                   epoch_us(e.ts) AS ts_us,
                   p.p_event_id,
                   epoch_us(p.ts) AS p_ts_us,
                   epoch_us(e.ts) - epoch_us(p.ts) AS lag_us,
                   CASE WHEN epoch_us(e.ts) - epoch_us(p.ts)
                             <= cast(3600 AS bigint) * 1000000
                        THEN p.p_event_id END AS p_event_id_1h
            FROM events e ASOF LEFT JOIN p
              ON e.user_id = p.user_id AND e.ts >= p.ts""",
        "rj_event_overlap": """
            WITH e AS (
                SELECT event_type, event_id, epoch_us(ts) AS s,
                       epoch_us(ts) + cast(1800 AS bigint) * 1000000
                           AS en
                FROM events)
            SELECT a.event_type, a.event_id AS a_id, b.event_id AS b_id
            FROM e a JOIN e b
              ON a.event_type = b.event_type
             AND a.event_id < b.event_id
             AND a.s <= b.en AND b.s <= a.en""",
        # NULL parity with compress_changes' null-safe struct compare:
        # rn=1 marks "no previous row" (a scalar `prev IS NULL` would
        # conflate that with a NULL previous VALUE) and IS DISTINCT
        # FROM keeps NULL→value and value→NULL transitions, exactly
        # like Spark's eqNullSafe; likewise cdc_latest_state's
        # IS DISTINCT FROM 'error' keeps NULL event_type rows, matching
        # latest_snapshot's coalesce(delete_when, false).  The current
        # events table has no NULL event_type, but a testdata regen
        # with NULLs must not split the engines.
        "cdc_compress_changes": """
            WITH o AS (
                SELECT user_id, event_id, ts, event_type,
                       lag(event_type) OVER w AS prev,
                       row_number() OVER w AS rn
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id))
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   event_type
            FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev""",
        "cdc_latest_state": """
            WITH ranked AS (
                SELECT user_id, event_id, ts, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   event_type
            FROM ranked
            WHERE rn = 1
              AND event_type IS DISTINCT FROM 'error'""",
        "cdc_scd2_versions": """
            WITH p AS (
                SELECT user_id, event_id, ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
                FROM events WHERE event_type = 'purchase')
            SELECT user_id, event_id AS p_event_id,
                   epoch_us(ts) AS valid_from_us,
                   epoch_us(nxt) AS valid_to_us,
                   (nxt IS NULL) AS is_current
            FROM p""",
        "graph_triangles": """
            WITH raw AS (
                SELECT cast(doc_id AS bigint) AS src,
                       cast(doc_id AS bigint) // 2 AS dst
                FROM documents WHERE doc_id >= 2
                UNION ALL
                SELECT cast(doc_id AS bigint),
                       cast(doc_id AS bigint) - 1
                FROM documents WHERE doc_id >= 2),
            e AS (
                SELECT DISTINCT least(src, dst) AS a,
                                greatest(src, dst) AS b
                FROM raw WHERE src <> dst),
            t AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1
                JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
            m AS (
                SELECT x AS node FROM t
                UNION ALL SELECT y FROM t
                UNION ALL SELECT z FROM t)
            SELECT node, count(*) AS n_triangles
            FROM m GROUP BY node""",
        "bpe_encode_counts": """
            WITH words AS (
                SELECT unnest(regexp_extract_all(
                    text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS w
                FROM documents),
            wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
            guard AS (
                -- the '<ch>' bracket-encoding trick assumes the corpus
                -- alphabet contains no literal '<' or '>' (the BPE
                -- pre-tokenizer class [^A-Za-z0-9\\s]+ WOULD admit
                -- them; verified 0 hits in the current documents
                -- table).  Fail loudly on a regenerated corpus that
                -- violates it instead of hash-mismatching mysteriously.
                SELECT CASE WHEN count(*) > 0 THEN error(
                    'bpe_encode_counts oracle: corpus word contains '
                    || '< or >; the bracket-delimited encoding is '
                    || 'invalid for this alphabet')
                    ELSE 1 END AS ok
                FROM wc WHERE w LIKE '%<%' OR w LIKE '%>%'),
            enc AS (SELECT
                replace(replace(replace(replace(
                replace(replace(replace(replace(
                    '<' || array_to_string(
                        regexp_split_to_array(w, ''), '><') || '>',
                    '<e><r>', '<er>'), '<i><n>', '<in>'),
                    '<o><w>', '<ow>'), '<s><t>', '<st>'),
                    '<t><o>', '<to>'), '<a><t>', '<at>'),
                    '<in><g>', '<ing>'), '<er><s>', '<ers>') AS s,
                cnt FROM wc, guard WHERE guard.ok = 1),
            toks AS (
                SELECT unnest(string_split(
                    substring(s, 2, length(s) - 2), '><')) AS token,
                       cnt
                FROM enc)
            SELECT token, cast(sum(cnt) AS bigint) AS n
            FROM toks GROUP BY token""",
        # CCNet-style unigram-LM NLL: the add-1 smoothed probability is
        # one exact-integer double division in both engines; per-token
        # logps floor-quantized to 1e-4 and summed as BIGINTs so the
        # per-doc score never depends on summation order
        "text_lm_nll": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tf AS (
                SELECT doc_id, t.token AS token,
                       count(*)::BIGINT AS tf
                FROM toks, unnest(tk) AS t(token)
                GROUP BY doc_id, token),
            lm AS (SELECT token, sum(tf)::BIGINT AS cnt FROM tf
                   GROUP BY token),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm),
            logp AS (
                SELECT token,
                       CAST(floor(ln((cnt + 1)::DOUBLE
                                     / (total + v)::DOUBLE)
                                  * 10000) AS BIGINT) AS lp
                FROM lm CROSS JOIN stats)
            SELECT doc_id,
                   cast(sum(tf) AS BIGINT) AS n_tokens,
                   cast(-sum(tf * lp) AS BIGINT) AS nll_q,
                   floor((-sum(tf * lp))::DOUBLE
                         / sum(tf)::DOUBLE) / 10000.0 AS avg_nll
            FROM tf JOIN logp USING (token)
            GROUP BY doc_id""",
        # external-LM scoring: LM from the lang='en' slice, all docs
        # scored; OOV tokens coalesce to the add-1 floor — the
        # left-join fallback path under the hash gate
        "text_lm_nll_xlm": """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tf AS (
                SELECT doc_id, t.token AS token,
                       count(*)::BIGINT AS tf
                FROM toks, unnest(tk) AS t(token)
                GROUP BY doc_id, token),
            lm AS (
                SELECT t.token AS token, count(*)::BIGINT AS cnt
                FROM toks, unnest(tk) AS t(token)
                WHERE lang = 'en'
                GROUP BY t.token),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm),
            logp AS (
                SELECT token,
                       CAST(floor(ln((cnt + 1)::DOUBLE
                                     / (total + v)::DOUBLE)
                                  * 10000) AS BIGINT) AS lp
                FROM lm CROSS JOIN stats)
            SELECT doc_id,
                   cast(sum(tf) AS BIGINT) AS n_tokens,
                   cast(-sum(tf * coalesce(lp,
                       CAST(floor(ln(1::DOUBLE / (total + v)::DOUBLE)
                                  * 10000) AS BIGINT))) AS BIGINT)
                       AS nll_q,
                   floor((-sum(tf * coalesce(lp,
                       CAST(floor(ln(1::DOUBLE / (total + v)::DOUBLE)
                                  * 10000) AS BIGINT))))::DOUBLE
                         / sum(tf)::DOUBLE) / 10000.0 AS avg_nll
            FROM tf LEFT JOIN logp USING (token) CROSS JOIN stats
            GROUP BY doc_id""",
        # interpolated bigram LM: identical literal expression tree for
        # the smoothed probability in both engines (one rounding per
        # IEEE op), quantized logps summed as BIGINTs
        "text_lm2_nll": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tr AS (
                SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
                FROM toks, unnest(range(1, len(tk))) AS r(i)),
            tf2 AS (
                SELECT doc_id, w1, w2, count(*)::BIGINT AS tf
                FROM tr GROUP BY doc_id, w1, w2),
            uni AS (SELECT t.w AS w FROM toks, unnest(tk) AS t(w)),
            lm1 AS (SELECT w, count(*)::BIGINT AS cnt FROM uni
                    GROUP BY w),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm1),
            c2 AS (SELECT w1, w2, sum(tf)::BIGINT AS c2 FROM tf2
                   GROUP BY w1, w2),
            logp AS (
                SELECT c2.w1, c2.w2,
                       CAST(floor(ln(
                           0.5 * ((c2 + 1)::DOUBLE
                                  / (a.cnt + v)::DOUBLE)
                         + 0.5 * ((b.cnt + 1)::DOUBLE
                                  / (total + v)::DOUBLE)) * 10000)
                            AS BIGINT) AS lp
                FROM c2 JOIN lm1 a ON a.w = c2.w1
                        JOIN lm1 b ON b.w = c2.w2
                        CROSS JOIN stats)
            SELECT doc_id,
                   cast(sum(tf) AS BIGINT) AS n_transitions,
                   cast(-sum(tf * lp) AS BIGINT) AS nll2_q,
                   floor((-sum(tf * lp))::DOUBLE
                         / sum(tf)::DOUBLE) / 10000.0 AS avg_nll2
            FROM tf2 JOIN logp USING (w1, w2)
            GROUP BY doc_id""",
        # CCNet head/middle/tail: the per-doc score is the SAME lm2
        # plan (floor(nll_q / n_transitions) as a BIGINT), cutoffs are
        # integer rank arithmetic over the (lang, score) histogram
        # (3*cum >= k*n  <=>  cum >= ceil(k*n/3)) — no float
        # percentile on either side.
        "text_ccnet_buckets": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tr AS (
                SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
                FROM toks, unnest(range(1, len(tk))) AS r(i)),
            tf2 AS (
                SELECT doc_id, w1, w2, count(*)::BIGINT AS tf
                FROM tr GROUP BY doc_id, w1, w2),
            uni AS (SELECT t.w AS w FROM toks, unnest(tk) AS t(w)),
            lm1 AS (SELECT w, count(*)::BIGINT AS cnt FROM uni
                    GROUP BY w),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm1),
            c2 AS (SELECT w1, w2, sum(tf)::BIGINT AS c2 FROM tf2
                   GROUP BY w1, w2),
            logp AS (
                SELECT c2.w1, c2.w2,
                       CAST(floor(ln(
                           0.5 * ((c2 + 1)::DOUBLE
                                  / (a.cnt + v)::DOUBLE)
                         + 0.5 * ((b.cnt + 1)::DOUBLE
                                  / (total + v)::DOUBLE)) * 10000)
                            AS BIGINT) AS lp
                FROM c2 JOIN lm1 a ON a.w = c2.w1
                        JOIN lm1 b ON b.w = c2.w2
                        CROSS JOIN stats),
            perdoc AS (
                SELECT doc_id,
                       cast(sum(tf) AS BIGINT) AS n_tr,
                       cast(-sum(tf * lp) AS BIGINT) AS nllq
                FROM tf2 JOIN logp USING (w1, w2)
                GROUP BY doc_id),
            scored AS (
                SELECT d.doc_id, d.lang,
                       CAST(floor(p.nllq::DOUBLE / p.n_tr::DOUBLE)
                            AS BIGINT) AS avg_q
                FROM perdoc p JOIN documents d USING (doc_id)),
            hist AS (SELECT lang, avg_q, count(*)::BIGINT AS c
                     FROM scored GROUP BY lang, avg_q),
            cum AS (SELECT lang, avg_q,
                           sum(c) OVER (PARTITION BY lang
                                        ORDER BY avg_q) AS cum,
                           sum(c) OVER (PARTITION BY lang) AS n
                    FROM hist),
            cuts AS (SELECT lang,
                            min(CASE WHEN cum * 3 >= n
                                     THEN avg_q END) AS c1,
                            min(CASE WHEN cum * 3 >= n * 2
                                     THEN avg_q END) AS c2
                     FROM cum GROUP BY lang)
            SELECT s.doc_id, s.lang, s.avg_q,
                   CASE WHEN s.avg_q <= c.c1 THEN 'head'
                        WHEN s.avg_q <= c.c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored s JOIN cuts c USING (lang)""",
        # MassiveText repeated-passage removal: chunking replicated
        # with the chunker's exact count rule (1 + floor((n-1)/8) for
        # n > 8), keeper = first (doc_id, chunk_idx) per paragraph.
        "text_paragraph_dedup": """
            WITH pool AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id < 20),
            toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x != '') AS tk
                FROM pool),
            nch AS (
                SELECT doc_id, tk,
                       CASE WHEN len(tk) <= 8 THEN 1
                            ELSE 1 + CAST(floor((len(tk) - 1) / 8.0)
                                          AS INT) END AS c
                FROM toks),
            chunks AS (
                SELECT doc_id, g AS chunk_idx,
                       array_to_string(tk[g * 8 + 1 : (g + 1) * 8],
                                       ' ') AS chunk_text
                FROM nch, unnest(range(0, c)) AS u(g)),
            keep AS (
                SELECT doc_id, chunk_idx, chunk_text,
                       row_number() OVER (PARTITION BY chunk_text
                                          ORDER BY doc_id, chunk_idx)
                           AS rn
                FROM chunks),
            rebuilt AS (
                SELECT doc_id, count(*)::BIGINT AS n_kept,
                       string_agg(chunk_text, ' '
                                  ORDER BY chunk_idx) AS kept_text
                FROM keep WHERE rn = 1 GROUP BY doc_id),
            totals AS (SELECT doc_id, count(*)::BIGINT AS n_paras
                       FROM chunks GROUP BY doc_id)
            SELECT t.doc_id, t.n_paras,
                   coalesce(r.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(r.kept_text, '') AS kept_text
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)""",
        # BGP over the relationally-minted triple table: each pattern
        # is a filtered scan, shared variables are the join keys —
        # the same plan bgp_match builds.
        "kg_bgp_match": """
            WITH triples AS (
                SELECT 'n:' || n_name AS subj, 'broader' AS pred,
                       'r:' || r_name AS obj
                FROM nation JOIN region ON n_regionkey = r_regionkey
                UNION ALL
                SELECT 'r:' || r_name, 'prefLabel', r_name FROM region
                UNION ALL
                SELECT 'n:' || n_name, 'prefLabel', n_name FROM nation
                UNION ALL
                SELECT 'c:' || c_custkey, 'memberOf', 'n:' || n_name
                FROM customer JOIN nation ON c_nationkey = n_nationkey)
            SELECT p1.subj AS m, p1.obj AS n, p2.obj AS r,
                   p3.obj AS label
            FROM triples p1
            JOIN triples p2 ON p2.pred = 'broader'
                           AND p2.subj = p1.obj
            JOIN triples p3 ON p3.pred = 'prefLabel'
                           AND p3.subj = p2.obj
            WHERE p1.pred = 'memberOf'""",
        # property-path twin: memberOf/broader+ with an OPTIONAL
        # label.  The broader+ closure is DuckDB's recursive CTE
        # (UNION dedups — set semantics, same as the doubling loop);
        # ROOT keeps a NULL label through the LEFT JOIN.
        "kg_path_match": """
            WITH RECURSIVE triples AS (
                SELECT 'n:' || n_name AS subj, 'broader' AS pred,
                       'r:' || r_name AS obj
                FROM nation JOIN region ON n_regionkey = r_regionkey
                UNION ALL
                SELECT 'r:' || r_name, 'broader', 'r:ROOT' FROM region
                UNION ALL
                SELECT 'r:' || r_name, 'prefLabel', r_name FROM region
                UNION ALL
                SELECT 'c:' || c_custkey, 'memberOf', 'n:' || n_name
                FROM customer JOIN nation ON c_nationkey = n_nationkey),
            closure AS (
                SELECT subj AS src, obj AS dst FROM triples
                WHERE pred = 'broader'
                UNION
                SELECT cl.src, t.obj FROM closure cl
                JOIN triples t ON t.pred = 'broader'
                              AND t.subj = cl.dst)
            SELECT m.subj AS c, cl.dst AS a, lbl.obj AS label
            FROM triples m
            JOIN closure cl ON cl.src = m.obj
            LEFT JOIN triples lbl ON lbl.pred = 'prefLabel'
                                 AND lbl.subj = cl.dst
            WHERE m.pred = 'memberOf'""",
        # SPARQL SELECT algebra: same binding relation, FILTER →
        # GROUP BY → HAVING in SQL; SAMPLE is pinned to min() on both
        # sides (the spec leaves it implementation-defined; min is the
        # only distributed-deterministic choice).
        "kg_sparql_agg": """
            WITH b AS (
                SELECT c.c_custkey AS m, 'n:' || n.n_name AS n,
                       'r:' || r.r_name AS r, r.r_name AS label
                FROM customer c
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey)
            SELECT r, label, count(*)::BIGINT AS n_members,
                   count(DISTINCT n)::BIGINT AS n_nations,
                   min(n) AS first_nation
            FROM b WHERE label != 'EUROPE'
            GROUP BY r, label
            HAVING count(DISTINCT n) >= 2""",
        # SPARQL NOT EXISTS == anti join: nations outside EUROPE
        "kg_sparql_negation": """
            SELECT 'n:' || n.n_name AS n, count(*)::BIGINT AS n_members
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name != 'EUROPE'
            GROUP BY n.n_name""",
        # CONSTRUCT: UNION (distinct) mirrors the spec's graph-set
        # semantics; template instantiation is a plain projection
        "kg_construct_rule": """
            WITH b AS (
                SELECT 'c:' || c.c_custkey AS m, 'n:' || n.n_name AS n,
                       'r:' || r.r_name AS r
                FROM customer c
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey)
            SELECT n AS subj, 'narrower_member' AS pred, m AS obj FROM b
            UNION
            SELECT m AS subj, 'inRegion' AS pred, r AS obj FROM b""",
        # rule fixpoint: depth-2 hierarchy -> the closure enumerates as
        # explicit unions; nations without customers still carry their
        # broader/inT/narrower edges (nr CTE is the full nation⋈region)
        "kg_rules_fixpoint": """
            WITH nr AS (
                SELECT 'n:' || n.n_name AS n, 'r:' || r.r_name AS r
                FROM nation n
                JOIN region r ON n.n_regionkey = r.r_regionkey),
            cb AS (
                SELECT 'c:' || c.c_custkey AS m, 'n:' || n.n_name AS n,
                       'r:' || r.r_name AS r
                FROM customer c
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey)
            SELECT n AS subj, 'broader' AS pred, r AS obj FROM nr
            UNION
            SELECT m, 'memberOf', n FROM cb
            UNION
            SELECT n, 'inT', r FROM nr
            UNION
            SELECT m, 'inT', n FROM cb
            UNION
            SELECT m, 'inT', r FROM cb
            UNION
            SELECT r, 'narrower', n FROM nr""",
        # catalog snapshot log: the oracle re-derives every manifest
        # row count from the documents table alone — write(<300),
        # append(300-400), append(400-500), compact (replace, back to
        # one data dir), append(500-520); delta_rows is each append's
        # incremental-scan count, NULL for non-append commits.
        "catalog_changelog": """
            WITH c AS (SELECT
                count(*) FILTER (doc_id < 300) AS c0,
                count(*) FILTER (doc_id >= 300 AND doc_id < 400) AS b1,
                count(*) FILTER (doc_id >= 400 AND doc_id < 500) AS b2,
                count(*) FILTER (doc_id >= 500 AND doc_id < 520) AS b3
              FROM documents)
            SELECT 0::INT AS snapshot_id, 'overwrite' AS operation,
                   c0 AS row_count, 1::INT AS n_data_dirs,
                   NULL::BIGINT AS delta_rows FROM c
            UNION ALL SELECT 1::INT, 'append', c0 + b1, 2::INT, b1
            FROM c
            UNION ALL SELECT 2::INT, 'append', c0 + b1 + b2, 3::INT, b2
            FROM c
            UNION ALL SELECT 3::INT, 'replace', c0 + b1 + b2, 1::INT,
                             NULL::BIGINT FROM c
            UNION ALL SELECT 4::INT, 'append', c0 + b1 + b2 + b3,
                             2::INT, b3 FROM c""",
        # zone-map pruned scan: the DATA contract is a plain BETWEEN
        # aggregate (layout-independent); the file-skip contract is the
        # in-row ok_pruned witness the Spark side computes from the
        # manifest (files_scanned < files_total) and the oracle pins
        # TRUE — a clustered 8-file layout that fails to skip on a
        # 100-299 range fails the hash loudly.
        "catalog_pruned_scan": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   min(doc_id) AS min_id, max(doc_id) AS max_id,
                   sum(n_chars)::BIGINT AS chars,
                   TRUE AS ok_pruned
            FROM documents
            WHERE doc_id BETWEEN 100 AND 299
            GROUP BY lang""",
        # trigram LM: identical interpolated probability expression
        # tree as the Spark side (0.5/0.25/0.25 — all weights exactly
        # representable doubles); c2 counted from its OWN bigram pass
        # (deriving contexts from trigrams would miss each doc's final
        # bigram)
        "text_lm3_nll": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tr3 AS (
                SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
                       tk[i + 2] AS w3
                FROM toks, unnest(range(1, len(tk) - 1)) AS r(i)),
            tf3 AS (
                SELECT doc_id, w1, w2, w3, count(*)::BIGINT AS tf
                FROM tr3 GROUP BY doc_id, w1, w2, w3),
            tr2 AS (
                SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
                FROM toks, unnest(range(1, len(tk))) AS r(i)),
            c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2
                   FROM tr2 GROUP BY w1, w2),
            uni AS (SELECT t.w AS w FROM toks, unnest(tk) AS t(w)),
            lm1 AS (SELECT w, count(*)::BIGINT AS cnt FROM uni
                    GROUP BY w),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm1),
            c3 AS (SELECT w1, w2, w3, sum(tf)::BIGINT AS c3 FROM tf3
                   GROUP BY w1, w2, w3),
            logp AS (
                SELECT c3.w1, c3.w2, c3.w3,
                       CAST(floor(ln(
                           0.5 * ((c3 + 1)::DOUBLE
                                  / (ctx.c2 + v)::DOUBLE)
                         + 0.25 * ((cont.c2 + 1)::DOUBLE
                                   / (a.cnt + v)::DOUBLE)
                         + 0.25 * ((b.cnt + 1)::DOUBLE
                                   / (total + v)::DOUBLE)) * 10000)
                            AS BIGINT) AS lp
                FROM c3 JOIN c2 ctx ON ctx.w1 = c3.w1
                                   AND ctx.w2 = c3.w2
                        JOIN c2 cont ON cont.w1 = c3.w2
                                    AND cont.w2 = c3.w3
                        JOIN lm1 a ON a.w = c3.w2
                        JOIN lm1 b ON b.w = c3.w3
                        CROSS JOIN stats)
            SELECT doc_id,
                   cast(sum(tf) AS BIGINT) AS n_transitions3,
                   cast(-sum(tf * lp) AS BIGINT) AS nll3_q,
                   floor((-sum(tf * lp))::DOUBLE
                         / sum(tf)::DOUBLE) / 10000.0 AS avg_nll3
            FROM tf3 JOIN logp USING (w1, w2, w3)
            GROUP BY doc_id""",
        # order-5 LM: same literal interpolated-probability tree as the
        # Spark side (0.5/0.25/0.125/0.0625/0.0625 — all weights
        # exactly representable); every lower-order context table is
        # counted from its OWN token-stream pass (deriving c_{k-1} from
        # c_k would miss each doc's final (k-1)-gram)
        "text_lm5_nll": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            tr5 AS (
                SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
                       tk[i + 2] AS w3, tk[i + 3] AS w4, tk[i + 4] AS w5
                FROM toks, unnest(range(1, len(tk) - 3)) AS r(i)),
            tf5 AS (
                SELECT doc_id, w1, w2, w3, w4, w5,
                       count(*)::BIGINT AS tf
                FROM tr5 GROUP BY doc_id, w1, w2, w3, w4, w5),
            c5 AS (SELECT w1, w2, w3, w4, w5, sum(tf)::BIGINT AS c5
                   FROM tf5 GROUP BY w1, w2, w3, w4, w5),
            c4 AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
                          tk[i + 3] AS w4, count(*)::BIGINT AS c4
                   FROM toks, unnest(range(1, len(tk) - 2)) AS r(i)
                   GROUP BY 1, 2, 3, 4),
            c3 AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
                          count(*)::BIGINT AS c3
                   FROM toks, unnest(range(1, len(tk) - 1)) AS r(i)
                   GROUP BY 1, 2, 3),
            c2 AS (SELECT tk[i] AS w1, tk[i + 1] AS w2,
                          count(*)::BIGINT AS c2
                   FROM toks, unnest(range(1, len(tk))) AS r(i)
                   GROUP BY 1, 2),
            lm1 AS (SELECT t.w AS w, count(*)::BIGINT AS cnt
                    FROM toks, unnest(tk) AS t(w) GROUP BY t.w),
            stats AS (SELECT sum(cnt)::BIGINT AS total,
                             count(*)::BIGINT AS v
                      FROM lm1),
            logp AS (
                SELECT c5.w1, c5.w2, c5.w3, c5.w4, c5.w5,
                       CAST(floor(ln(
                           0.5 * ((c5 + 1)::DOUBLE
                                  / (x4.c4 + v)::DOUBLE)
                         + 0.25 * ((s4.c4 + 1)::DOUBLE
                                   / (x3.c3 + v)::DOUBLE)
                         + 0.125 * ((s3.c3 + 1)::DOUBLE
                                    / (x2.c2 + v)::DOUBLE)
                         + 0.0625 * ((s2.c2 + 1)::DOUBLE
                                     / (x1.cnt + v)::DOUBLE)
                         + 0.0625 * ((s1.cnt + 1)::DOUBLE
                                     / (total + v)::DOUBLE)) * 10000)
                            AS BIGINT) AS lp
                FROM c5 JOIN c4 x4 ON x4.w1 = c5.w1 AND x4.w2 = c5.w2
                                  AND x4.w3 = c5.w3 AND x4.w4 = c5.w4
                        JOIN c4 s4 ON s4.w1 = c5.w2 AND s4.w2 = c5.w3
                                  AND s4.w3 = c5.w4 AND s4.w4 = c5.w5
                        JOIN c3 x3 ON x3.w1 = c5.w2 AND x3.w2 = c5.w3
                                  AND x3.w3 = c5.w4
                        JOIN c3 s3 ON s3.w1 = c5.w3 AND s3.w2 = c5.w4
                                  AND s3.w3 = c5.w5
                        JOIN c2 x2 ON x2.w1 = c5.w3 AND x2.w2 = c5.w4
                        JOIN c2 s2 ON s2.w1 = c5.w4 AND s2.w2 = c5.w5
                        JOIN lm1 x1 ON x1.w = c5.w4
                        JOIN lm1 s1 ON s1.w = c5.w5
                        CROSS JOIN stats)
            SELECT doc_id,
                   cast(sum(tf) AS BIGINT) AS n_transitions5,
                   cast(-sum(tf * lp) AS BIGINT) AS nll5_q,
                   floor((-sum(tf * lp))::DOUBLE
                         / sum(tf)::DOUBLE) / 10000.0 AS avg_nll5
            FROM tf5 JOIN logp USING (w1, w2, w3, w4, w5)
            GROUP BY doc_id""",
        # DSIR log-weights: the oracle maps md5's first byte to a
        # bucket via a printf('%02x') lookup table where Spark uses
        # conv(...,16,10) — same byte, independently derived; all
        # quantized log-ratios combine as BIGINTs
        # Gopher rules: identical integer cross-multiplied thresholds;
        # list_sum over an empty list is NULL in DuckDB (coalesce 0 to
        # match Spark's aggregate-with-init-0)
        "text_gopher_gate": """
            WITH t AS (
                SELECT doc_id,
                       length(text) AS n_chars_all,
                       length(replace(text, '#', '')) AS no_hash,
                       length(replace(text, '...', '')) AS no_ell,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x != '') AS tk,
                       regexp_split_to_array(text, '\\n') AS ln
                FROM documents),
            c AS (
                SELECT doc_id,
                    len(tk)::BIGINT AS n_words,
                    coalesce(list_sum(list_transform(tk,
                        x -> length(x))), 0)::BIGINT AS sum_len,
                    (n_chars_all - no_hash)::BIGINT AS n_hash,
                    (n_chars_all - no_ell)::BIGINT AS ell_chars,
                    len(ln)::BIGINT AS n_lines,
                    len(list_filter(ln, l -> regexp_matches(ltrim(l),
                        '^[-*\u2022]')))::BIGINT AS n_bullet,
                    len(list_filter(ln, l -> regexp_matches(rtrim(l),
                        '(\\.\\.\\.|\u2026)$')))::BIGINT AS n_ell,
                    len(list_filter(tk, w -> regexp_matches(w,
                        '[A-Za-z]')))::BIGINT AS n_alpha,
                    len(list_filter(list_distinct(list_transform(tk,
                        x -> lower(x))),
                        w -> w IN ('the','be','to','of','and','that',
                                   'have','with')))::BIGINT AS n_stop
                FROM t)
            SELECT doc_id,
                n_words >= 50 AND n_words <= 100000 AS ok_word_count,
                sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                    AND n_words > 0 AS ok_mean_word_len,
                10 * (3 * n_hash + ell_chars) <= 3 * n_words
                    AS ok_symbol_ratio,
                10 * n_bullet <= n_lines AS ok_bullet_lines,
                10 * n_ell <= 3 * n_lines AS ok_ellipsis_lines,
                5 * n_alpha >= 4 * n_words AS ok_alpha_words,
                n_stop >= 2 AS ok_stopwords,
                (n_words >= 50 AND n_words <= 100000)
                AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                     AND n_words > 0)
                AND (10 * (3 * n_hash + ell_chars) <= 3 * n_words)
                AND (10 * n_bullet <= n_lines)
                AND (10 * n_ell <= 3 * n_lines)
                AND (5 * n_alpha >= 4 * n_words)
                AND (n_stop >= 2) AS gopher_pass
            FROM c""",
        "dsir_en_weights": """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            grams AS (
                SELECT doc_id, lang, t.g AS g
                FROM toks, unnest(tk) AS t(g)
                UNION ALL
                SELECT doc_id, lang,
                       array_to_string(tk[i : i + 1], ' ') AS g
                FROM toks, unnest(range(1, len(tk))) AS r(i)),
            hx AS (SELECT i::INT AS bucket, printf('%02x', i) AS h
                   FROM range(256) t(i)),
            docb AS (
                SELECT doc_id, lang, bucket, count(*)::BIGINT AS cnt
                FROM grams JOIN hx ON substr(md5(g), 1, 2) = hx.h
                GROUP BY doc_id, lang, bucket),
            dist AS (
                SELECT hx.bucket,
                       coalesce(sum(cnt), 0)::BIGINT AS rc,
                       coalesce(sum(cnt) FILTER (lang = 'en'),
                                0)::BIGINT AS tc
                FROM hx LEFT JOIN docb ON docb.bucket = hx.bucket
                GROUP BY hx.bucket),
            tot AS (SELECT sum(rc)::BIGINT AS rtot,
                           sum(tc)::BIGINT AS ttot FROM dist),
            ratio AS (
                SELECT bucket,
                       CAST(floor(ln((tc + 1)::DOUBLE
                                     / (ttot + 256)::DOUBLE)
                                  * 10000) AS BIGINT)
                     - CAST(floor(ln((rc + 1)::DOUBLE
                                     / (rtot + 256)::DOUBLE)
                                  * 10000) AS BIGINT) AS dlp
                FROM dist CROSS JOIN tot)
            SELECT doc_id,
                   cast(sum(cnt) AS BIGINT) AS n_grams,
                   cast(sum(cnt * dlp) AS BIGINT) AS logw_q
            FROM docb JOIN ratio USING (bucket)
            GROUP BY doc_id""",
        # linear classifier gate: same md5-bucket machinery as DSIR;
        # weights are the inline arithmetic (bucket % 17 - 8), logit is
        # an exact integer sum — order-independent, float-free
        "quality_classifier_scores": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x != '') AS tk
                FROM documents),
            grams AS (
                SELECT doc_id, t.g AS g
                FROM toks, unnest(tk) AS t(g)
                UNION ALL
                SELECT doc_id,
                       array_to_string(tk[i : i + 1], ' ') AS g
                FROM toks, unnest(range(1, len(tk))) AS r(i)),
            hx AS (SELECT i::INT AS bucket, printf('%02x', i) AS h
                   FROM range(256) t(i)),
            docb AS (
                SELECT doc_id, bucket, count(*)::BIGINT AS cnt
                FROM grams JOIN hx ON substr(md5(g), 1, 2) = hx.h
                GROUP BY doc_id, bucket)
            SELECT doc_id,
                   cast(sum(cnt) AS BIGINT) AS n_grams,
                   cast(3 + sum(cnt * (bucket % 17 - 8)) AS BIGINT)
                       AS logit_q,
                   (3 + sum(cnt * (bucket % 17 - 8))) >= 0 AS keep
            FROM docb GROUP BY doc_id""",
        # pivot == one conditional-count hash aggregate
        "pivot_lang_matrix": """
            SELECT source,
                   count(*) FILTER (lang = 'de') AS n_de,
                   count(*) FILTER (lang = 'en') AS n_en,
                   count(*) FILTER (lang = 'es') AS n_es,
                   count(*) FILTER (lang = 'fr') AS n_fr,
                   count(*) FILTER (lang = 'zh') AS n_zh
            FROM documents GROUP BY source""",
        # unpivot == stacked UNION ALL
        "unpivot_doc_metrics": """
            SELECT doc_id, 'n_chars' AS metric,
                   n_chars::BIGINT AS value FROM documents
            UNION ALL
            SELECT doc_id, 'text_len' AS metric,
                   length(text)::BIGINT AS value FROM documents""",
    }
    from mc2skos_spark.plans.oracle_values import VALUES_SQL
    out.update(VALUES_SQL)
    return out
